"""plans/journal.py: the one crash-safe publish protocol, proven once for
every caller.

test_every_step_crash builds each caller's real pre-commit state once
(a flat-dir merge, a promotion, a minhash-index append, FTS appends with
and without a write_id). Then, without Spark, it fails the k-th
filesystem step of the commit for every k on a copy of that state and
checks the crash contract; a second pass lets a reader roll the commit
forward at every step while the writer is still inside it.

Two tests pin the recovery bugs of the per-caller journals this module
replaced, through the public append and probe API only; the last ones
kill an append mid roll-forward and then compact the index directly.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import re
import shutil
import uuid

import pytest


class _Crash(BaseException):
    """A simulated kill: no OSError handler swallows it."""


class _Steps:
    """Counts the journal's filesystem steps. Raises _Crash instead of
    running step ``fail_at``; runs ``race`` just before step ``race_at``."""

    def __init__(self, fail_at=None, race_at=None, race=None):
        self.n = 0
        self.log = []
        self.fail_at, self.race_at, self.race = fail_at, race_at, race

    def wrap(self, name, fn):
        def step(*args, **kwargs):
            self.n += 1
            self.log.append((name, args))
            if self.n == self.fail_at:
                raise _Crash(f"step {self.n}: {name}{args}")
            if self.n == self.race_at:
                self.race()
            return fn(*args, **kwargs)

        return step


class _Proxy:
    def __init__(self, mod, steps, names):
        self._mod, self._steps, self._names = mod, steps, names

    def __getattr__(self, attr):
        v = getattr(self._mod, attr)
        return self._steps.wrap(attr, v) if attr in self._names else v


def _install(mp, J, steps):
    mp.setattr(J, "os", _Proxy(os, steps, {"replace", "unlink", "makedirs", "fsync"}))
    mp.setattr(J, "shutil", _Proxy(shutil, steps, {"rmtree"}))
    mp.setattr(J, "fsync_file", steps.wrap("fsync_file", J.fsync_file))
    mp.setattr(J, "fsync_dir", steps.wrap("fsync_dir", J.fsync_dir))


def _files(root):
    out = {}
    for d, _subdirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _visible(snap):
    """What a Spark scan or a write_id check reads: no dot or underscore
    path parts, plus .applied-last."""
    return {
        k: v
        for k, v in snap.items()
        if k == ".applied-last"
        or not any(part.startswith((".", "_")) for part in k.split(os.sep))
    }


class _Stop(BaseException):
    pass


def _capture(run, patches=()):
    """Run a caller up to its journal.commit call; return the Commit and
    write_id it was about to commit (its stage is left on disk)."""
    from quackpipe_spark.plans import journal as J

    got = []

    def record(c, write_id=None):
        got.append((c, write_id))
        raise _Stop

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(J, "commit", record)
        for obj, name, value in patches:
            mp.setattr(obj, name, value)
        with pytest.raises(_Stop):
            run()
    return got[0]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_FOX = "the quick brown fox jumps over the lazy dog number {}"


@pytest.fixture(scope="module")
def mh_base(spark, tmp_path_factory):
    """A 10-doc minhash index; tests append to copies of it."""
    from quackpipe_spark.operators import dedup as D

    path = str(tmp_path_factory.mktemp("mh_base") / "mh")
    D.write_minhash_index(
        _docs(spark, [(i, _FOX.format(i)) for i in range(10)]), path,
        num_hashes=8, bands=4,
    )
    return path


@pytest.fixture(scope="module")
def precommit(spark, mh_base, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quackpipe_spark.operators import dedup as D
    from quackpipe_spark.operators import fts as FTS
    from quackpipe_spark.plans import compactor as C

    base = tmp_path_factory.mktemp("journal_cases")
    cases = {}

    merge = str(base / "merge")
    os.makedirs(merge)
    for i in range(2):
        pq.write_table(
            pa.table({"id": [i, i + 10], "v": ["a", "b"]}),
            f"{merge}/part-{i}.parquet",
        )
    cases["merge"] = (merge, *_capture(
        lambda: C.compact_parquet_dir(spark, merge, order_by=["id"])
    ))

    promote = str(base / "promote")
    os.makedirs(promote)
    pq.write_table(pa.table({"id": [1, 2]}), f"{promote}/part-0.parquet")
    cases["promote"] = (promote, *_capture(
        lambda: C.compact_parquet_dir(spark, promote),
        [(C, "MAX_SIZES", {**C.MAX_SIZES, 1: 2})],  # any file is > cap/2
    ))

    mh = str(base / "minhash")
    shutil.copytree(mh_base, mh)
    D.append_to_minhash_index(
        _docs(spark, [(100, _FOX.format(100))]), mh,
        compact_over_files=None, write_id="m0",
    )
    cases["minhash"] = (mh, *_capture(
        lambda: D.append_to_minhash_index(
            _docs(spark, [(101, _FOX.format(3)), (102, "a new doc here")]), mh,
            compact_over_files=None, write_id="m1",
        )
    ))

    fts = str(base / "fts")
    FTS.write_postings(
        FTS.build_postings(
            _docs(spark, [(1, "spark shuffles data"), (2, "duckdb scans parquet")])
        ),
        fts, n_buckets=4,
    )
    FTS.append_postings(
        _docs(spark, [(3, "parquet scan speed")]), fts,
        compact_over_files=None, write_id="f0",
    )
    fts_id = str(base / "fts_write_id")
    shutil.copytree(fts, fts_id)
    batch = _docs(spark, [(4, "spark data shuffle"), (5, "executors run tasks")])
    for name, root, wid in (("fts", fts, None), ("fts_write_id", fts_id, "f1")):
        cases[name] = (root, *_capture(
            lambda root=root, wid=wid: FTS.append_postings(
                batch, root, compact_over_files=None, write_id=wid
            )
        ))
    return cases


def _commit_copy(J, template, c, write_id, work, steps):
    shutil.copytree(template, work)
    c = dataclasses.replace(
        c, root=work, moves=list(c.moves), deletes=list(c.deletes)
    )
    with pytest.MonkeyPatch.context() as mp:
        _install(mp, J, steps)
        J.commit(c, write_id)


@pytest.mark.parametrize(
    "case", ["merge", "promote", "minhash", "fts", "fts_write_id"]
)
def test_every_step_crash(precommit, case, tmp_path):
    from quackpipe_spark.plans import journal as J

    template, c, write_id = precommit[case]
    before = _files(template)
    pre_state = {k: v for k, v in before.items() if not k.startswith(c.stage)}

    clean = _Steps()
    _commit_copy(J, template, c, write_id, str(tmp_path / "clean"), clean)
    expected = _files(str(tmp_path / "clean"))
    assert not [k for k in expected if ".journal-" in k]
    assert _visible(expected) != _visible(before)
    commit_step = next(
        i
        for i, (name, args) in enumerate(clean.log, 1)
        if name == "replace" and os.path.basename(args[1]).startswith(J.MARKER)
    )
    # every published file's dir (stats/ included) and its parent are
    # fsynced before the marker drops
    drop = next(
        i
        for i, (name, args) in enumerate(clean.log)
        if name == "unlink" and os.path.basename(args[0]).startswith(J.MARKER)
    )
    fsynced = {os.path.normpath(a[0]) for n, a in clean.log[:drop] if n == "fsync_dir"}
    for _src, dst in c.moves:
        d = os.path.dirname(os.path.join(str(tmp_path / "clean"), dst))
        assert {d, os.path.dirname(d)} <= fsynced, dst

    for k in range(1, clean.n + 1):
        work = str(tmp_path / f"k{k}")
        with pytest.raises(_Crash):
            _commit_copy(J, template, c, write_id, work, _Steps(fail_at=k))
        committed = k > commit_step
        if not committed:
            # the Spark-visible files, the stats row and .applied-last
            # are untouched before the commit point
            assert _visible(_files(work)) == _visible(before), k
        stages = {n for n in os.listdir(work) if n.startswith(J.STAGE)}
        J.recover_tree(work, writer=False)
        if committed:
            assert _visible(_files(work)) == _visible(expected), k
        else:
            assert stages <= set(os.listdir(work)), k  # readers keep stages
        J.recover_tree(work, writer=True)
        final = _files(work)
        assert final == (expected if committed else pre_state), k
        for writer in (False, True):  # idempotent
            J.recover_tree(work, writer)
            assert _files(work) == final, k
        shutil.rmtree(work)

        # a reader rolls the commit forward just before step k while the
        # writer is still inside it: both finish, same end state
        race = str(tmp_path / f"race{k}")
        _commit_copy(
            J, template, c, write_id, race,
            _Steps(race_at=k, race=lambda: J.recover_tree(race, writer=False)),
        )
        assert _files(race) == expected, k
        shutil.rmtree(race)


def test_roll_forward_with_output_gone_keeps_inputs(precommit, tmp_path):
    """A committed merge whose staged output is gone (and was never
    published) must raise instead of deleting the bin's inputs."""
    from quackpipe_spark.plans import journal as J

    template, c, _ = precommit["merge"]
    work = str(tmp_path / "gone")
    shutil.copytree(template, work)
    c = dataclasses.replace(c, root=work)
    with pytest.MonkeyPatch.context() as mp:  # killed at the commit point
        mp.setattr(J, "_roll_forward", lambda root, name: None)
        J.commit(c)
    os.unlink(os.path.join(work, c.moves[0][0]))
    with pytest.raises(RuntimeError, match="neither"):
        J.recover(work, writer=True)
    assert all(os.path.exists(os.path.join(work, f)) for f in c.deletes)
    assert os.path.exists(os.path.join(work, f"{J.MARKER}{c.id}"))


@pytest.mark.parametrize(
    "name", [".append-pending-x", ".append-commit-b1", ".compact-commit-y.json"]
)
def test_old_protocol_markers_refuse_loudly(tmp_path, name):
    from quackpipe_spark.plans import journal as J

    open(tmp_path / name, "w").close()
    for writer in (False, True):
        with pytest.raises(RuntimeError, match=re.escape(name)):
            J.recover(str(tmp_path), writer)
    assert os.path.exists(tmp_path / name)


# --- recovery bugs of the per-caller minhash journal ------------------------

def _n_fingerprints(spark, path):
    return spark.read.parquet(f"{path}/fingerprints").count()


def _first_replace_into(path, after):
    """os.replace that calls ``after(dst)`` once the first file renamed
    into ``path`` itself (the commit marker; .applied-last excluded)
    has landed."""
    real = os.replace

    def replace(src, dst, *a, **k):
        real(src, dst, *a, **k)
        if (
            os.path.dirname(os.path.abspath(dst)) == os.path.abspath(path)
            and os.path.basename(dst) != ".applied-last"
        ):
            after(dst)

    return replace


def test_committed_append_with_dotted_write_id_survives(
    spark, mh_base, tmp_path, monkeypatch
):
    """A write_id such as batch.<uuid hex> must not make a committed
    append look like a tmp marker: after a crash at the commit point a
    reader probe rolls it forward, and the writer's next append keeps it."""
    from quackpipe_spark.operators import dedup as D

    path = str(tmp_path / "mh")
    shutil.copytree(mh_base, path)

    def crash(dst):
        raise _Crash(dst)

    monkeypatch.setattr(os, "replace", _first_replace_into(path, crash))
    with pytest.raises(_Crash):
        D.append_to_minhash_index(
            _docs(spark, [(100, _FOX.format(3))]), path,
            compact_over_files=None, write_id=f"batch.{uuid.uuid4().hex}",
        )
    monkeypatch.undo()
    probe = _docs(spark, [(200, _FOX.format(3))])
    pairs = {tuple(r) for r in D.exact_dups_against_index(probe, path).collect()}
    assert pairs == {(200, 3), (200, 100)}
    D.append_to_minhash_index(
        _docs(spark, [(101, _FOX.format(4))]), path,
        compact_over_files=None, write_id=f"batch.{uuid.uuid4().hex}",
    )
    assert _n_fingerprints(spark, path) == 12


def test_late_replay_of_old_marker_keeps_applied_last(
    spark, mh_base, tmp_path, monkeypatch
):
    """A reader that rolls marker A forward after the writer applied A and
    then B must not move .applied-last back to A — a replay of B would
    then append it twice. The replay arrives in a different partitioning,
    as a restarted stream's may."""
    from quackpipe_spark.operators import dedup as D

    path = str(tmp_path / "mh")
    shutil.copytree(mh_base, path)
    saved = {}

    def save(dst):
        if not saved:
            with open(dst, "rb") as f:
                saved[dst] = f.read()

    monkeypatch.setattr(os, "replace", _first_replace_into(path, save))
    D.append_to_minhash_index(
        _docs(spark, [(100, _FOX.format(3))]), path,
        compact_over_files=None, write_id="a",
    )
    monkeypatch.undo()
    batch_b = _docs(spark, [(101, _FOX.format(4)), (102, _FOX.format(5))])
    D.append_to_minhash_index(
        batch_b.coalesce(1).repartition(2), path,
        compact_over_files=None, write_id="b",
    )
    ((marker, data),) = saved.items()
    with open(marker, "wb") as f:  # the late reader's view of marker A
        f.write(data)
    D.exact_dups_against_index(_docs(spark, [(200, "x y z w")]), path).collect()
    D.append_to_minhash_index(
        batch_b.coalesce(1), path, compact_over_files=None, write_id="b"
    )
    assert _n_fingerprints(spark, path) == 13


# --- a compaction after an append killed mid roll-forward --------------------

def _rows(root):
    """Every visible parquet row under ``root``, tagged with its dir
    (merged file names are random, so compare contents)."""
    import pyarrow.parquet as pq

    return sorted(
        (os.path.dirname(k), repr(row))
        for k in _visible(_files(root))
        if k.endswith(".parquet")
        for row in pq.read_table(os.path.join(root, k)).to_pylist()
    )


@pytest.mark.parametrize("case", ["minhash", "fts_write_id"])
def test_compaction_after_crash_mid_roll_forward(spark, precommit, case, tmp_path):
    """An append killed after its commit point with one file published,
    then a direct compaction (the index's single writer): the compaction
    finishes the append before it merges, so the index equals the
    never-crashed one and later recovery does not raise."""
    from quackpipe_spark.operators import dedup as D
    from quackpipe_spark.operators import fts as FTS
    from quackpipe_spark.plans import journal as J

    compact = {"minhash": D.compact_minhash_index}.get(case, FTS.compact_postings_index)
    template, c, write_id = precommit[case]
    clean, work = str(tmp_path / "clean"), str(tmp_path / "work")
    steps = _Steps()
    _commit_copy(J, template, c, write_id, clean, steps)
    second_move = [
        i
        for i, (name, args) in enumerate(steps.log, 1)
        if name == "replace" and os.path.basename(args[1]).startswith("append-")
    ][1]
    with pytest.raises(_Crash):
        _commit_copy(J, template, c, write_id, work, _Steps(fail_at=second_move))
    for root in (work, clean):
        compact(spark, root)
    J.recover_tree(work, writer=False)
    assert _rows(work) == _rows(clean)
    assert J.applied_last(work) == write_id
    assert not [k for k in _files(work) if ".journal-" in k]


def test_append_roll_forward_survives_output_merged_away(precommit, tmp_path):
    """In a commit without deletes, a move whose output was published and
    then merged away (a compaction of that subdir alone) counts as done:
    recovery publishes the rest instead of raising."""
    from quackpipe_spark.plans import journal as J

    template, c, write_id = precommit["minhash"]
    work = str(tmp_path / "merged")
    shutil.copytree(template, work)
    c = dataclasses.replace(c, root=work, moves=list(c.moves))
    with pytest.MonkeyPatch.context() as mp:  # killed at the commit point
        mp.setattr(J, "_roll_forward", lambda root, name: None)
        J.commit(c, write_id)
    (src, dst), rest = c.moves[0], c.moves[1:]
    os.unlink(os.path.join(work, src))  # moved, then merged away
    J.recover(work, writer=False)
    assert all(os.path.exists(os.path.join(work, d)) for _s, d in rest)
    assert not [n for n in os.listdir(work) if n.startswith(".journal-")]
    assert J.applied_last(work) == write_id
