"""Regression tests for the round-13 serving-core review findings
(all execution-confirmed before fixing): parenthesized relations
defeating the pruning self-join guard and the plan-cache pin, a
backticked `where` column opening a phantom WHERE scope, sign-flipped
pre-epoch fractional bounds, trailing-semicolon pruning loss, and the
index save() proceeding past a failed fsync."""

from __future__ import annotations

import pytest


def test_paren_join_relations_refuse_pruning(time_bounds):
    """`FROM (events e1 JOIN events e2 ON …)`: a qualified bound on one
    alias must not prune the shared view the other alias still reads."""
    q = (
        "SELECT * FROM (events e1 JOIN events e2 ON e1.event_id = e2.event_id) "
        "WHERE e2.__timestamp >= 1000"
    )
    assert time_bounds(q, ["events"]) == {}
    # unparenthesized control: the self-join guard already refuses
    q2 = (
        "SELECT * FROM events e1 JOIN events e2 ON e1.event_id = e2.event_id "
        "WHERE e2.__timestamp >= 1000"
    )
    assert time_bounds(q2, ["events"]) == {}
    # plain single-relation control still prunes
    q3 = "SELECT * FROM events WHERE __timestamp >= 1000"
    assert time_bounds(q3, ["events"]) == {"events": (1000, None)}
    # a parenthesized subquery prunes
    q4 = "SELECT * FROM (SELECT * FROM events WHERE __timestamp >= 7) t"
    assert time_bounds(q4, ["events"]) == {"events": (7, None)}


def test_paren_temp_view_not_plan_cacheable(plan_cacheable):
    """`FROM (my_temp_view)` hid the view name from the cacheability
    scan: the query was judged cacheable with the view's contents
    unpinned, so redefining the view kept serving the old plan."""
    assert plan_cacheable("SELECT * FROM (my_temp_view) WHERE x = 1", []) is False
    assert plan_cacheable("SELECT * FROM my_temp_view WHERE x = 1", []) is False
    # catalog-table queries stay cacheable
    assert plan_cacheable("SELECT * FROM events WHERE x = 1", ["events"]) is True


def test_backticked_where_column_opens_no_phantom_scope(time_bounds):
    """A projected column named `where` (plain-word backtick contents
    stay visible after blanking) must not shift the WHERE scope into the
    SELECT list — a projected boolean is not a row filter."""
    q = "SELECT `where`, a AND __timestamp >= 5 AND b FROM events WHERE c = 1"
    assert time_bounds(q, ["events"], analyzes=False) == {}  # a, b: bigint
    q1 = "SELECT `where`, flag AND __timestamp >= 5 AND flag FROM events WHERE c = 1"
    assert time_bounds(q1, ["events"]) == {}
    # the real WHERE keyword still opens the scope
    q2 = "SELECT `where`, x FROM events WHERE __timestamp >= 5"
    assert time_bounds(q2, ["events"]) == {"events": (5, None)}


def test_trailing_semicolon_keeps_pruning(time_bounds):
    """Spark accepts a trailing ';'; leaving it inside the WHERE scope
    failed the conjunct's scope-end check and silently disabled pruning
    for every copy-pasted query."""
    q = "SELECT * FROM events WHERE __timestamp >= 1000;"
    assert time_bounds(q, ["events"]) == {"events": (1000, None)}
    q2 = "SELECT * FROM events WHERE __timestamp >= 1000 AND __timestamp < 2000 ;"
    # strict `<` keeps hi at the literal (conservative: a file with
    # min_time == hi is kept though the predicate excludes it)
    assert time_bounds(q2, ["events"]) == {"events": (1000, 2000)}


def test_pre_epoch_fractional_literal_floors(time_bounds):
    """A fractional pre-epoch literal bounds on the right side of zero:
    truncating toward zero once gave +0.5 s instead of -0.5 s and pruned
    files still satisfying the true predicate. The bound is Catalyst's
    own fold of epoch_ns(…), the value execution compares against."""
    for lit, ns in (
        ("1969-12-31 23:59:59.5", -500_000_000),
        ("1970-01-01 00:00:00.5", 500_000_000),
        ("1969-12-31 23:59:59", -1_000_000_000),
        ("2024-06-01 12:00:00.25", 1_717_243_200_000_000_000 + 250_000_000),
    ):
        q = f"SELECT * FROM events WHERE __timestamp >= epoch_ns('{lit}'::TIMESTAMP)"
        assert time_bounds(q, ["events"]) == {"events": (ns, None)}


def test_index_save_aborts_on_fsync_failure(tmp_path, monkeypatch):
    """A failed fsync must ABORT the save (keeping the old index), never
    proceed to the rename: Linux clears the dirty state after reporting
    EIO, so renaming anyway publishes a metadata.json whose data blocks
    may never reach disk — the empty-index-after-power-loss hazard."""
    import os

    from quackpipe_spark.plans.index import FileEntry, PartitionIndex

    pdir = str(tmp_path / "p")
    os.makedirs(pdir)
    idx = PartitionIndex(pdir)
    idx.add(FileEntry(name="a.1.parquet", size_bytes=10, row_count=1))
    idx.save()

    real_fsync = os.fsync

    def failing_fsync(fd):
        raise OSError(5, "Input/output error")

    import quackpipe_spark.plans.index as index_mod

    monkeypatch.setattr(index_mod.os, "fsync", failing_fsync)
    idx.add(FileEntry(name="b.1.parquet", size_bytes=20, row_count=2))
    with pytest.raises(OSError):
        idx.save()
    monkeypatch.setattr(index_mod.os, "fsync", real_fsync)
    # the OLD index is intact on disk and the tmp file was cleaned up
    reloaded = PartitionIndex.load(pdir)
    assert set(reloaded.files) == {"a.1.parquet"}
    assert not [f for f in os.listdir(pdir) if f.endswith(".tmp")]
    # and a later healthy save succeeds
    idx.save()
    assert set(PartitionIndex.load(pdir).files) == {"a.1.parquet", "b.1.parquet"}
