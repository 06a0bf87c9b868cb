"""Index-dir compaction: N incremental appends leave N file-groups in the
bands/fingerprints (and postings) dirs; the flat-dir greedy compactor must
bound the file count without changing any probe/search result."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quackpipe_spark.operators import dedup as D
from quackpipe_spark.operators import fts as FTS
from quackpipe_spark.plans.compactor import (
    compact_parquet_dir,
    compact_parquet_tree,
    plan_dir_merges,
)


def _parquet_files(path):
    return [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


@pytest.fixture(scope="module")
def appended_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx_compact") / "idx")
    corpus = spark.createDataFrame(
        [(i, f"base document number {i} alpha beta gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    D.write_minhash_index(corpus, path)
    for day in range(30):
        batch = spark.createDataFrame(
            [
                (
                    1000 + day * 10 + j,
                    f"incremental doc {day}-{j} epsilon zeta eta theta",
                )
                for j in range(3)
            ],
            "doc_id long, text string",
        )
        # auto-compact off: this fixture exercises the EXPLICIT
        # compaction path over a maximally fragmented index
        D.append_to_minhash_index(batch, path, compact_over_files=None)
    return path


def test_thirty_appends_then_compact_bounds_files(spark, appended_index):
    path = appended_index
    before_bands = _parquet_files(f"{path}/bands")
    before_fp = _parquet_files(f"{path}/fingerprints")
    assert len(before_bands) > 30  # one file-group per append at minimum

    # snapshot probe results BEFORE compaction
    probe = spark.createDataFrame(
        [(9_000_001, "incremental doc 5-1 epsilon zeta eta theta"),
         (9_000_002, "base document number 7 alpha beta gamma delta")],
        "doc_id long, text string",
    )
    near_before = {
        (r["new_id"], r["old_id"])
        for r in D.dedup_against_index(probe, path).collect()
    }
    exact_before = {
        (r["new_id"], r["old_id"])
        for r in D.exact_dups_against_index(probe, path).collect()
    }
    assert near_before and exact_before

    new_files = D.compact_minhash_index(spark, path)
    assert new_files
    after_bands = _parquet_files(f"{path}/bands")
    after_fp = _parquet_files(f"{path}/fingerprints")
    # tiny files all pack into one bin per level per dir
    assert len(after_bands) <= 2
    assert len(after_fp) <= 2
    assert len(after_bands) < len(before_bands)
    assert len(after_fp) < len(before_fp)

    near_after = {
        (r["new_id"], r["old_id"])
        for r in D.dedup_against_index(probe, path).collect()
    }
    exact_after = {
        (r["new_id"], r["old_id"])
        for r in D.exact_dups_against_index(probe, path).collect()
    }
    assert near_after == near_before
    assert exact_after == exact_before
    # a further append + probe still works on the compacted index
    D.append_to_minhash_index(
        spark.createDataFrame(
            [(5000, "post compact doc iota kappa lambda mu")],
            "doc_id long, text string",
        ),
        path,
    )
    again = spark.createDataFrame(
        [(9_000_003, "post compact doc iota kappa lambda mu")],
        "doc_id long, text string",
    )
    hits = {r["old_id"] for r in D.dedup_against_index(again, path).collect()}
    assert 5000 in hits


def test_compaction_is_idempotent_and_repacks_own_output(spark, appended_index):
    path = appended_index
    # second run: the level-2 outputs of run 1 either stay (single file,
    # under cap/2) or pack among themselves — file count never grows
    before = _parquet_files(f"{path}/bands")
    D.compact_minhash_index(spark, path)
    after = _parquet_files(f"{path}/bands")
    assert len(after) <= len(before)


def test_postings_tree_compaction_preserves_search(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "duckdb scans parquet very fast"),
            (3, "spark and duckdb both scan parquet"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "fts")
    post = FTS.build_postings(docs)
    FTS.write_postings(post, path, n_buckets=4)
    # simulate fragmented buckets: append the same postings again would
    # duplicate rows, so instead fragment by appending an EMPTY-safe
    # second file set from a disjoint doc
    from quackpipe_spark.operators.sampling import hash_mod

    extra = FTS.build_postings(
        spark.createDataFrame(
            [(4, "parquet scan speed in spark")], "doc_id long, text string"
        )
    ).withColumn("term_bucket", hash_mod(F.col("term"), 4))
    extra.write.partitionBy("term_bucket").mode("append").parquet(
        f"{path}/postings"
    )
    # stats must reflect the full corpus for scores to be comparable
    before = FTS.search_postings_index(spark, path, "spark parquet", topk=4).collect()
    new_files = FTS.compact_postings_index(spark, path)
    assert new_files
    after = FTS.search_postings_index(spark, path, "spark parquet", topk=4).collect()
    assert [(r["doc_id"], r["score"]) for r in after] == [
        (r["doc_id"], r["score"]) for r in before
    ]


def test_plan_dir_merges_promotes_lone_large_file(tmp_path):
    d = tmp_path / "flat"
    d.mkdir()
    big = d / "part-00000-big.parquet"
    big.write_bytes(b"x" * (60 << 20))  # > 100MB/2 at level 1
    plans = plan_dir_merges(str(d))
    assert len(plans) == 1 and plans[0].promote and plans[0].out_level == 2
    small = d / "part-00001-small.parquet"
    small.write_bytes(b"y" * 1024)
    plans = plan_dir_merges(str(d))
    # now they pack together instead of promoting
    assert len(plans) == 1 and not plans[0].promote and len(plans[0].files) == 2


def test_append_auto_compacts_over_threshold(spark, tmp_path):
    path = str(tmp_path / "auto_idx")
    corpus = spark.createDataFrame(
        [(i, f"seed doc {i} alpha beta gamma") for i in range(10)],
        "doc_id long, text string",
    )
    D.write_minhash_index(corpus, path)
    for day in range(6):
        batch = spark.createDataFrame(
            [(100 + day, f"auto day {day} delta epsilon zeta")],
            "doc_id long, text string",
        )
        # tiny threshold: compaction should fire inside the append loop
        D.append_to_minhash_index(batch, path, compact_over_files=4)
    assert len(_parquet_files(f"{path}/bands")) <= 4
    # everything appended is still probeable
    probe = spark.createDataFrame(
        [(9_100_003, "auto day 3 delta epsilon zeta")],
        "doc_id long, text string",
    )
    hits = {r["old_id"] for r in D.dedup_against_index(probe, path).collect()}
    assert 103 in hits


def test_append_postings_matches_full_rebuild(spark, tmp_path):
    """Incremental FTS indexing: append postings + incremental stats must
    produce byte-identical search results to rebuilding the index from
    the union corpus (idf and avgdl both depend on the stats row, so a
    drift there would shift every score)."""
    base = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "duckdb scans parquet very fast"),
            (3, "spark and duckdb both scan parquet"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (4, "parquet scan speed in spark"),
            (5, "executors shuffle spark data"),
        ],
        "doc_id long, text string",
    )
    inc_path = str(tmp_path / "inc")
    FTS.write_postings(FTS.build_postings(base), inc_path, n_buckets=4)
    FTS.append_postings(batch, inc_path)
    full_path = str(tmp_path / "full")
    FTS.write_postings(
        FTS.build_postings(base.unionByName(batch)), full_path, n_buckets=4
    )
    for q in ("spark parquet", "duckdb", "executors data"):
        got = [
            (r["doc_id"], r["score"])
            for r in FTS.search_postings_index(spark, inc_path, q, topk=5).collect()
        ]
        exp = [
            (r["doc_id"], r["score"])
            for r in FTS.search_postings_index(spark, full_path, q, topk=5).collect()
        ]
        assert got == exp, q
    # stats row matches the rebuilt one
    si = spark.read.parquet(f"{inc_path}/stats").collect()[0]
    sf = spark.read.parquet(f"{full_path}/stats").collect()[0]
    assert si["N"] == sf["N"] == 5
    assert abs(si["avgdl"] - sf["avgdl"]) < 1e-12


def test_remote_append_postings_updates_stats_incrementally(
    spark, tmp_path, monkeypatch
):
    """The object-store append path (no journal), run on a local dir:
    the stats update from the batch alone, never by re-aggregating the
    whole postings."""
    monkeypatch.setattr(FTS, "_is_local_path", lambda path: False)
    path = str(tmp_path / "inc")
    FTS.write_postings(
        FTS.build_postings(
            spark.createDataFrame(
                [(1, "spark shuffles data"), (2, "duckdb scans parquet fast")],
                "doc_id long, text string",
            )
        ),
        path,
        n_buckets=4,
    )

    def no_full_scan(*a, **k):
        raise AssertionError("append re-aggregated the whole postings")

    monkeypatch.setattr(FTS, "_publish_stats", no_full_scan)
    batch = spark.createDataFrame(
        [(3, "parquet scan speed in spark"), (4, "executors shuffle data")],
        "doc_id long, text string",
    )
    FTS.append_postings(batch, path, compact_over_files=None)
    st = FTS._read_stats(spark, path)
    assert (st["N"], st["avgdl"]) == (4, (3 + 4 + 5 + 3) / 4)
    assert FTS.load_postings(spark, path).count() == 15


def test_append_postings_auto_compacts(spark, tmp_path):
    path = str(tmp_path / "fts_auto")
    base = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    FTS.write_postings(FTS.build_postings(base), path, n_buckets=2)
    for i in range(6):
        FTS.append_postings(
            spark.createDataFrame(
                [(10 + i, f"alpha delta doc{i}")], "doc_id long, text string"
            ),
            path,
            compact_over_files=2,
        )
    # every bucket dir bounded
    for dirpath, _d, files in os.walk(f"{path}/postings"):
        n = sum(1 for f in files if f.endswith(".parquet"))
        assert n <= 3, (dirpath, n)
    got = {r["doc_id"] for r in FTS.search_postings_index(spark, path, "alpha", topk=10).collect()}
    assert got == {1} | {10 + i for i in range(6)}


from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=6 << 30), max_size=40),
    levels=st.lists(st.integers(min_value=1, max_value=5), max_size=40),
)
def test_plan_dir_merges_invariants(tmp_path_factory, sizes, levels):
    """Planner invariants over arbitrary dir states: every planned file
    exists and is claimed at most once; multi-file bins respect the level
    cap (unless a single file already exceeds it, which can only pair
    with nothing); promotions are lone >cap/2 files below MAX_LEVEL."""
    import quackpipe_spark.plans.compactor as C

    d = tmp_path_factory.mktemp("plan_prop")
    names = []
    for i, sz in enumerate(sizes):
        lv = levels[i % len(levels)] if levels else 1
        name = (
            f"part-{i:05d}-x.parquet" if lv == 1 else f"f{i:05d}.{lv}.parquet"
        )
        # sparse file: correct st_size without writing gigabytes
        with open(d / name, "wb") as f:
            f.truncate(sz)
        names.append((name, sz, lv))
    plans = C.plan_dir_merges(str(d))
    claimed: set[str] = set()
    szmap = {n: s for n, s, _l in names}
    for p in plans:
        for f in p.files:
            assert f not in claimed, "file claimed twice"
            claimed.add(f)
            assert f in szmap
        lv = p.level
        cap = C.MAX_SIZES[lv]
        if p.promote:
            assert len(p.files) == 1
            assert lv < C.MAX_LEVEL
            assert szmap[p.files[0]] > cap // 2
            assert p.out_level == lv + 1
        else:
            assert len(p.files) >= 2
            total = sum(szmap[f] for f in p.files)
            # greedy close: total may exceed cap only via its largest
            # single member already exceeding cap
            assert total <= cap or max(szmap[f] for f in p.files) > cap
        assert p.out_level == min(lv + 1, C.MAX_LEVEL)
    # levels above MAX_LEVEL are never planned
    for p in plans:
        assert p.level <= C.MAX_LEVEL


def test_streaming_postings_append_matches_batch(spark, tmp_path):
    """foreachBatch FTS indexing over two micro-batches must equal one
    full rebuild over base+stream (stream≡batch parity, the same
    discipline as the dedup probe writer)."""
    import json as _json

    from quackpipe_spark.streaming.stateful import postings_append_writer

    base = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "fts_stream")
    FTS.write_postings(FTS.build_postings(base), path, n_buckets=4)
    rows = [(3, "parquet scan in spark"), (4, "spark data executors"),
            (5, "duckdb parquet speed"), (6, "scan shuffles spark")]
    src = tmp_path / "docs_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(postings_append_writer(path))
        .option("checkpointLocation", str(tmp_path / "fts_ckpt"))
        .start()
    )
    try:
        for bi, chunk in enumerate([rows[:2], rows[2:]]):
            (src / f"b{bi}.json").write_text(
                "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in chunk)
            )
            q.processAllAvailable()
    finally:
        q.stop()
    full_path = str(tmp_path / "fts_full")
    whole = base.unionByName(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    FTS.write_postings(FTS.build_postings(whole), full_path, n_buckets=4)
    for query in ("spark parquet", "duckdb scan"):
        got = [
            (r["doc_id"], r["score"])
            for r in FTS.search_postings_index(spark, path, query, topk=6).collect()
        ]
        exp = [
            (r["doc_id"], r["score"])
            for r in FTS.search_postings_index(spark, full_path, query, topk=6).collect()
        ]
        assert got == exp, query


def _pq_inputs(d, n_files=2):
    """``n_files`` visible 2-row parquet inputs in a fresh dir ``d``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir(parents=True)
    for i in range(n_files):
        pq.write_table(
            pa.table({"id": [2 * i, 2 * i + 1], "v": ["a", "b"]}),
            str(d / f"part-0000{i}-x.parquet"),
        )
    return str(d)


def _no_journal_files(d):
    return not [f for f in os.listdir(d) if f.startswith(".journal-")]


def test_recovery_rolls_forward_committed_merge(spark, tmp_path, monkeypatch):
    """Crash AFTER the commit point but before input-unlink/publish:
    recovery must unlink inputs and publish the merged output — never
    leave inputs and output both live (duplicate rows)."""
    from quackpipe_spark.plans import journal

    d = _pq_inputs(tmp_path / "dir")
    monkeypatch.setattr(journal, "_roll_forward", lambda root, name: None)
    (final,) = compact_parquet_dir(spark, d)
    monkeypatch.undo()
    assert len(_parquet_files(d)) == 2  # committed, not yet published
    journal.recover(d, writer=True)
    assert _parquet_files(d) == [os.path.basename(final)]
    assert _no_journal_files(d)
    assert spark.read.parquet(d).count() == 4  # merged content, once


def test_recovery_rolls_back_uncommitted_output(tmp_path):
    """Crash BEFORE the commit point: the staged output is an orphan —
    the writer's recovery removes the stage and tmp marker, and inputs
    stay authoritative."""
    from quackpipe_spark.plans import journal

    d = _pq_inputs(tmp_path / "dir", n_files=1)
    c = journal.begin(d)
    with open(c.staged("feed.2.parquet"), "wb") as f:
        f.write(b"y" * 100)
    open(os.path.join(d, f"{journal.TMP}{c.id}"), "w").close()
    journal.recover(d, writer=True)
    assert sorted(os.listdir(d)) == ["part-00000-x.parquet"]


def test_recovery_is_idempotent_and_runs_on_compact(tmp_path):
    from quackpipe_spark.plans import journal

    d = _pq_inputs(tmp_path / "dir", n_files=1)
    journal.recover(d, writer=True)
    journal.recover(d, writer=True)
    assert os.listdir(d) == ["part-00000-x.parquet"]


def test_tree_recovers_dir_left_with_only_hidden_output(spark, tmp_path, monkeypatch):
    """A bucket dir whose committed merge crashed after ALL inputs were
    unlinked holds only its hidden output (the merged bin, still in the
    dot-hidden journal stage) and the marker. compact_parquet_tree must
    still visit it and roll it forward — a visible-parquet gate would
    skip it forever."""
    from quackpipe_spark.plans import journal

    root = tmp_path / "tree"
    leaf = _pq_inputs(root / "term_bucket=0")
    monkeypatch.setattr(journal, "_roll_forward", lambda r, name: None)
    (final,) = compact_parquet_dir(spark, leaf)
    monkeypatch.undo()
    for f in _parquet_files(leaf):  # the roll-forward's deletes ran
        os.unlink(os.path.join(leaf, f))
    compact_parquet_tree(spark, str(root))
    assert sorted(os.listdir(leaf)) == [os.path.basename(final)]
    assert spark.read.parquet(leaf).count() == 4


def test_reader_recovery_never_sweeps_uncommitted_artifacts(tmp_path):
    """Readers (probes, searches) run recover(writer=False) and so must
    not remove artifacts that may belong to a LIVE writer: an
    uncommitted stage or tmp marker stays put (they are invisible to
    Spark scans anyway); only the single writer's recovery sweeps them."""
    from quackpipe_spark.plans import journal

    d = _pq_inputs(tmp_path / "dir", n_files=1)
    c = journal.begin(d)
    with open(c.staged("live.2.parquet"), "wb") as f:
        f.write(b"y" * 10)
    tmp_marker = os.path.join(d, f"{journal.TMP}{c.id}")
    open(tmp_marker, "w").close()
    journal.recover(d, writer=False)
    assert os.path.exists(c.staged("live.2.parquet"))
    assert os.path.exists(tmp_marker)
    journal.recover(d, writer=True)
    assert sorted(os.listdir(d)) == ["part-00000-x.parquet"]


def test_reader_recovery_still_rolls_forward_committed_merge(spark, tmp_path, monkeypatch):
    """The reader-side restriction must NOT lose the roll-forward half:
    a committed merge heals at the next read access."""
    from quackpipe_spark.plans import journal

    d = _pq_inputs(tmp_path / "dir")
    monkeypatch.setattr(journal, "_roll_forward", lambda root, name: None)
    (final,) = compact_parquet_dir(spark, d)
    monkeypatch.undo()
    journal.recover(d, writer=False)
    assert sorted(os.listdir(d)) == [os.path.basename(final)]
    assert spark.read.parquet(d).count() == 4


def test_orphan_stage_dir_swept_not_compacted(spark, tmp_path):
    """A crash during the Spark stage write leaves a journal stage
    behind; the next compaction must remove it and must NEVER walk into
    it — its part files are never-published data that would otherwise be
    resurrected into a merged output."""
    from quackpipe_spark.plans import journal

    root = tmp_path / "tree"
    leaf = root / "term_bucket=0"
    leaf.mkdir(parents=True)
    good = spark.createDataFrame([(i, "keep") for i in range(4)], "id long, v string")
    # two visible input files so a real merge is planned
    good.coalesce(1).write.mode("append").parquet(str(leaf))
    good.coalesce(1).write.mode("append").parquet(str(leaf))
    n_good = spark.read.parquet(str(leaf)).count()
    stage = leaf / f"{journal.STAGE}deadbeef"
    bogus = spark.createDataFrame([(99, "bogus")], "id long, v string")
    bogus.coalesce(1).write.parquet(str(stage))
    compact_parquet_tree(spark, str(root), order_by=["id"])
    assert not stage.exists()
    out = spark.read.parquet(str(leaf))
    assert out.count() == n_good
    assert out.filter(F.col("v") == "bogus").count() == 0


def test_arrow_and_spark_bin_merges_identical(spark, tmp_path, monkeypatch):
    """Small bins merge driver-locally via pyarrow; above the gate the
    Spark rewrite runs. Both must produce the same rows, the same sort
    order, and the same union-by-name schema handling — including a
    schema-evolved append (extra column on the later generation)."""
    import quackpipe_spark.plans.compactor as C

    def build(dirname):
        d = str(tmp_path / dirname)
        gen1 = spark.range(500).select(
            (F.col("id") % 8).cast("int").alias("band"),
            F.xxhash64("id").alias("bh"),
            F.col("id").alias("doc_id"),
        )
        gen2 = gen1.withColumn("extra", (F.col("doc_id") * 2).cast("long"))
        gen1.write.mode("append").parquet(d)
        gen2.write.mode("append").parquet(d)
        return d

    def merged_rows(d):
        df = spark.read.option("mergeSchema", "true").parquet(d)
        return [tuple(r) for r in df.select("band", "bh", "doc_id", "extra").collect()]

    d_arrow = build("arrow")
    C.compact_parquet_dir(spark, d_arrow, order_by=["band", "bh"])
    files_a = [f for f in os.listdir(d_arrow) if f.endswith(".parquet")]

    monkeypatch.setattr(C, "_ARROW_MERGE_MAX_BYTES", 0)  # force Spark path
    d_spark = build("sparkpath")
    C.compact_parquet_dir(spark, d_spark, order_by=["band", "bh"])
    files_s = [f for f in os.listdir(d_spark) if f.endswith(".parquet")]

    assert len(files_a) == 1 and len(files_s) == 1
    ra, rs = merged_rows(d_arrow), merged_rows(d_spark)
    key = lambda r: tuple((v is None, v if v is not None else 0) for v in r)
    assert sorted(ra, key=key) == sorted(rs, key=key) and len(ra) == 1000
    # sorted output: both files must be band-ordered (row-group pruning)
    assert ra == sorted(ra, key=lambda r: (r[0], r[1])) or rs == sorted(
        rs, key=lambda r: (r[0], r[1])
    )
    # the arrow output is itself readable with the evolved schema and
    # null-fills the missing column for gen1 rows
    nulls = sum(1 for r in ra if r[3] is None)
    assert nulls == 500


def test_arrow_merge_null_sort_order_matches_spark(spark, tmp_path, monkeypatch):
    """pyarrow sorts nulls LAST by default while Spark's df.sort is NULLS
    FIRST — the arrow merge must pass null_placement so a schema-evolved
    null-filled sort key clusters identically on both paths."""
    import quackpipe_spark.plans.compactor as C

    def build(dirname):
        d = str(tmp_path / dirname)
        # gen1 lacks the sort key entirely → null-filled on merge
        spark.range(50).selectExpr("id AS doc_id").write.mode("append").parquet(d)
        spark.range(50, 100).selectExpr(
            "cast(id % 4 as int) AS band", "id AS doc_id"
        ).write.mode("append").parquet(d)
        return d

    def first_rows(d):
        import pyarrow.parquet as pq

        f = next(
            str(p) for p in __import__("pathlib").Path(d).iterdir()
            if p.name.endswith(".parquet")
        )
        t = pq.read_table(f)
        return t["band"].to_pylist()[:55]

    d_a = build("nulls_arrow")
    C.compact_parquet_dir(spark, d_a, order_by=["band"])
    monkeypatch.setattr(C, "_ARROW_MERGE_MAX_BYTES", 0)
    d_s = build("nulls_spark")
    C.compact_parquet_dir(spark, d_s, order_by=["band"])
    ra, rs = first_rows(d_a), first_rows(d_s)
    # both paths: the 50 null keys lead (Spark NULLS FIRST semantics)
    assert ra[:50] == [None] * 50, ra[:5]
    assert rs[:50] == [None] * 50, rs[:5]
    assert ra[50:55] == rs[50:55] == [0, 0, 0, 0, 0]
