"""Subprocess index appender for the SIGKILL soak (r15 — VERDICT r14 #2/#4).

Appends a deterministic sequence of batches to BOTH persisted indexes —
the minhash dedup index (operators/dedup.py append_to_minhash_index) and
the FTS postings index (operators/fts.py append_postings) — each with a
per-batch write_id, recording progress to a status JSONL. The parent
test SIGKILLs this process at random points; each restarted incarnation
recovers from DISK ALONE (journal recovery runs at both append entries)
and resumes from the last recorded batch, re-running it with the SAME
write_id so exactly-once semantics decide whether it applied.

argv: root status_path ready_path total_batches
  total_batches == 0 → loop forever (parent kills us)
  total_batches  > 0 → converge to exactly that many batches, exit 0
"""

from __future__ import annotations

import json
import os
import sys

DOCS_PER_BATCH = 24


def batch_rows(k: int) -> list[tuple[int, str]]:
    """Deterministic batch k: unique ids, a mix of fresh texts and clones
    of base-corpus texts (so probes return real pairs)."""
    rows = []
    for j in range(DOCS_PER_BATCH):
        did = 100_000 + k * 1000 + j
        if j % 3 == 0:
            text = f"the quick brown fox jumps over the lazy dog number {j % 8}"
        else:
            text = (
                f"incremental corpus batch {k} document {j} carries payload "
                f"token{(k * 7 + j) % 50} token{(k * 11 + j) % 50} and some "
                "shared boilerplate about distributed curation pipelines"
            )
        rows.append((did, text))
    return rows


def base_rows() -> list[tuple[int, str]]:
    return [
        (i, f"the quick brown fox jumps over the lazy dog number {i}")
        for i in range(8)
    ] + [
        (
            50 + i,
            f"seed corpus document {i} about distributed curation pipelines "
            f"with token{i} inside",
        )
        for i in range(8)
    ]


def build_indexes(spark, root: str) -> None:
    import quackpipe_spark.operators.dedup as D
    import quackpipe_spark.operators.fts as FT

    docs = spark.createDataFrame(base_rows(), "doc_id long, text string")
    D.write_minhash_index(docs, os.path.join(root, "mh"), num_hashes=8, bands=4)
    FT.write_postings(
        FT.build_postings(docs), os.path.join(root, "fts"), n_buckets=8
    )


def append_batch(spark, root: str, k: int) -> None:
    import quackpipe_spark.operators.dedup as D
    import quackpipe_spark.operators.fts as FT

    docs = spark.createDataFrame(batch_rows(k), "doc_id long, text string")
    D.append_to_minhash_index(
        docs, os.path.join(root, "mh"), compact_over_files=None,
        write_id=f"mh-{k}",
    )
    FT.append_postings(
        docs, os.path.join(root, "fts"), compact_over_files=None,
        write_id=f"fts-{k}",
    )


def _log(status_path: str, rec: dict) -> None:
    with open(status_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
        f.flush()
        os.fsync(f.fileno())


def _resume_batch(status_path: str) -> int:
    """First batch this incarnation must (re-)run: the lowest batch with
    a 'start' but no 'done' record, else last done + 1."""
    done, started = set(), set()
    try:
        with open(status_path) as f:
            for line in f:
                if not line.strip():
                    continue
                r = json.loads(line)
                if r.get("event") == "start":
                    started.add(r["batch"])
                elif r.get("event") == "done":
                    done.add(r["batch"])
    except OSError:
        pass
    unfinished = started - done
    if unfinished:
        return min(unfinished)
    return (max(done) + 1) if done else 0


def main() -> int:
    root, status_path, ready_path, total = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
    )
    from quackpipe_spark.session import get_spark

    spark = get_spark(app_name="soak-index-appender", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.isdir(os.path.join(root, "mh")):
            build_indexes(spark, root)
            _log(status_path, {"event": "built", "pid": os.getpid()})
        k = _resume_batch(status_path)
        _log(status_path, {"event": "resumed", "batch": k, "pid": os.getpid()})
        with open(ready_path, "w"):
            pass
        while total == 0 or k < total:
            _log(status_path, {"event": "start", "batch": k})
            append_batch(spark, root, k)
            _log(status_path, {"event": "done", "batch": k})
            k += 1
        _log(status_path, {"event": "clean_exit", "batches": k})
        return 0
    except Exception as e:  # pragma: no cover - failure reporting
        _log(
            status_path,
            {"fatal": f"{type(e).__name__}: {e}", "pid": os.getpid()},
        )
        raise
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
