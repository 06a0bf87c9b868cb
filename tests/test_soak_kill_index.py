"""SIGKILL soak for the persisted-index APPENDERS (VERDICT r14 #2 + #4).

The hive store and the journaled flat dir are crash-proven by
tests/test_soak_kill_writer.py; this soak closes the remaining seam: the
minhash dedup index and the FTS postings index, both published through
plans/journal.py (whose every-step crash test runs in-process only).

A subprocess (tests/soak_index_appender.py) appends a deterministic
batch sequence to both indexes with per-batch write_ids and is SIGKILLed
at a randomized point in each of >=5 cycles — mid-stage, mid-commit,
mid-publish, mid-stats-update, wherever the kill lands. Each restart
recovers from DISK ALONE (journal recovery runs at both append entry
points) and re-runs the interrupted batch with the SAME write_id, so
exactly-once semantics decide whether it applied. A final incarnation
converges cleanly, and the parent verifies both indexes EQUAL a
never-crashed control built in-process from the same batch sequence:

- minhash: identical (id, fingerprint) set, identical (id, band, bh)
  band-row set, and identical probe results;
- FTS: identical (doc_id, score) BM25 top-k for probe queries — scores
  depend on N/avgdl/df, so equality proves postings AND stats converged
  (no double-count, no loss);
- no journal debris (.journal-* markers, tmp markers or stages)
  survives.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import pytest

import quackpipe_spark.operators.dedup as D
import quackpipe_spark.operators.fts as FT

from tests.soak_index_appender import base_rows, batch_rows

KILL_CYCLES = int(os.environ.get("SPARK_GRAFT_KILL_CYCLES", "5"))
TOTAL_BATCHES = 6


def _spawn(tmp_path, root, status_path, ready_path, total, log_f):
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "8",
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "PYTHONPATH": repo_root + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "soak_index_appender.py"),
            root,
            status_path,
            ready_path,
            str(total),
        ],
        cwd=str(tmp_path),
        env=env,
        stdout=log_f,
        stderr=subprocess.STDOUT,
    )


def test_kill_index_appender_soak(spark, tmp_path):
    root = str(tmp_path / "indexes")
    os.makedirs(root)
    status_path = str(tmp_path / "status.jsonl")
    log_path = str(tmp_path / "appender_log.txt")
    log_f = open(log_path, "ab")

    rng = random.Random(0x15D3)
    proc = None
    try:
        for cycle in range(KILL_CYCLES):
            ready = str(tmp_path / f"ready_{cycle}")
            proc = _spawn(tmp_path, root, status_path, ready, 0, log_f)
            t_wait = time.time() + 240
            while not os.path.exists(ready):
                assert proc.poll() is None, (
                    f"appender died during startup (cycle {cycle}): "
                    f"{open(log_path, 'rb').read().decode(errors='replace')[-2000:]}"
                )
                assert time.time() < t_wait, f"appender never ready (cycle {cycle})"
                time.sleep(0.1)
            # the loop body is stage -> commit -> publish -> stats for two
            # indexes back to back; a kill in this window lands inside one
            # of the dangerous protocol states
            time.sleep(rng.uniform(0.5, 4.0))
            proc.kill()
            proc.wait(timeout=60)

        # final incarnation: recover once more, converge, exit clean
        ready = str(tmp_path / "ready_final")
        proc = _spawn(tmp_path, root, status_path, ready, TOTAL_BATCHES, log_f)
        rc = proc.wait(timeout=600)
        assert rc == 0, (
            f"final appender rc={rc}: "
            f"{open(log_path, 'rb').read().decode(errors='replace')[-2000:]}"
        )
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait(timeout=60)
        log_f.close()

    with open(status_path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    fatals = [r for r in records if "fatal" in r]
    assert not fatals, fatals
    resumes = [r for r in records if r.get("event") == "resumed"]
    assert len(resumes) == KILL_CYCLES + 1, resumes
    assert [r for r in records if r.get("event") == "clean_exit"]
    # the kills really interrupted work at least once across the soak
    # (otherwise the schedule needs retuning, not the protocol)
    started = [r["batch"] for r in records if r.get("event") == "start"]
    done = {r["batch"] for r in records if r.get("event") == "done"}
    assert len(started) > len(set(started)) or any(
        s not in done for s in started[:-TOTAL_BATCHES]
    ) or len(resumes) > 1, "no incarnation ever resumed mid-sequence"

    # ---- never-crashed control, built in this process ----
    control = str(tmp_path / "control")
    os.makedirs(control)
    docs = spark.createDataFrame(base_rows(), "doc_id long, text string")
    D.write_minhash_index(docs, control + "/mh", num_hashes=8, bands=4)
    FT.write_postings(FT.build_postings(docs), control + "/fts", n_buckets=8)
    for k in range(TOTAL_BATCHES):
        b = spark.createDataFrame(batch_rows(k), "doc_id long, text string")
        D.append_to_minhash_index(b, control + "/mh", compact_over_files=None)
        FT.append_postings(b, control + "/fts", compact_over_files=None)

    soaked_mh, control_mh = root + "/mh", control + "/mh"
    for rel, cols in (
        ("fingerprints", ["doc_id", "fingerprint"]),
        ("bands", ["doc_id", "band", "bh"]),
    ):
        got = {
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(f"{soaked_mh}/{rel}").collect()
        }
        want = {
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(f"{control_mh}/{rel}").collect()
        }
        assert got == want, (
            f"{rel}: {len(got - want)} extra, {len(want - got)} missing"
        )

    # probe equality through the public API (near-dup + exact)
    probe = spark.createDataFrame(
        [(999_001, "the quick brown fox jumps over the lazy dog number 3"),
         (999_002, "incremental corpus batch 2 document 5 carries payload "
                   "token19 token27 and some shared boilerplate about "
                   "distributed curation pipelines")],
        "doc_id long, text string",
    )
    for fn in (D.exact_dups_against_index, D.dedup_against_index):
        got = {tuple(r) for r in fn(probe, soaked_mh).collect()}
        want = {tuple(r) for r in fn(probe, control_mh).collect()}
        assert got == want, f"{fn.__name__} diverged"

    # ---- FTS: BM25 scores equal => postings AND stats converged ----
    for q in ("quick fox", "token19 boilerplate", "curation pipelines"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in FT.search_postings_index(
                spark, root + "/fts", q, topk=50
            ).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in FT.search_postings_index(
                spark, control + "/fts", q, topk=50
            ).collect()
        ]
        assert sorted(got) == sorted(want), f"query {q!r} diverged"

    # ---- no journal debris anywhere ----
    for idx in (root + "/mh", root + "/fts"):
        debris = [
            os.path.join(r, n)
            for r, dirs, files in os.walk(idx)
            for n in dirs + files
            if n.startswith(".journal-")
        ]
        assert debris == [], debris
