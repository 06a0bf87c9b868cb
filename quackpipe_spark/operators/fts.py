"""Full-text search: inverted postings + BM25 ranking, Spark-first.

The reference ships DuckDB's `fts` extension installed but unused
(reference Dockerfile:11); this module provides the equivalent surface
as first-class DataFrame ops so a corpus-curation pipeline can do
keyword retrieval at 100 TB scale.

Scale design:

- **postings build** is the one heavy pass: docs are id-repartitioned
  BEFORE the token explode (the shingle_table lesson), so the per-doc
  term-frequency groupBy clusters on already-satisfied partitioning —
  the exploded token rows never shuffle; only compact (term, doc, tf)
  rows leave the stage.
- **the on-disk index** (`write_postings`) partitions by an md5 term
  bucket (`sampling.hash_mod` — reproducible driver-side, so the search
  path can name its buckets without a Spark job) and stores the corpus
  stats (N, avgdl, n_buckets) beside it, paid once at build time.
- **search** (`search_postings_index`) reads ONLY the query terms'
  buckets (partition pruning via an explicit `term_bucket IN` filter),
  never re-aggregates corpus stats, aggregates idf over matched terms
  only, and ranks via distributed TakeOrdered — a q-term query touches
  q/n_buckets of the index and nothing else. The in-memory
  `bm25_search` keeps the same scoring but derives stats from its
  postings frame (one aggregation — fine for a pinned index, wrong for
  per-query use over a 100 TB on-disk index; use the indexed path).

Scoring is classic BM25 (Robertson/Spärck Jones):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avg_len))
All arithmetic is double-precision JVM expressions — deterministic and
restatable in any engine (tests mirror it in DuckDB SQL verbatim).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quackpipe_spark.operators.dedup import tokenize
from quackpipe_spark.operators.sampling import hash_mod, hash_mod_py
from quackpipe_spark.plans import journal
from quackpipe_spark.plans.index import norm_index_path


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, id, tf) inverted postings plus per-doc length ``dl``.

    One exchange total (the id-repartition, data-sized — see
    dedup.shingle_table); the explode and the aggregate run
    exchange-free on top of it."""
    from quackpipe_spark.operators.util import sized_parts

    toks = (
        docs.repartition(sized_parts(docs, 1 << 20), F.col(id_col))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks"))
        .select(id_col, F.size("_toks").alias("dl"), F.explode("_toks").alias("term"))
    )
    return toks.groupBy(id_col, "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )


def _is_local_path(path: str) -> bool:
    """The atomic-stats/marker/compaction machinery is os.*-based, so it
    only applies to local (or file:) index paths. Remote object-store
    indexes (s3a://, hdfs://) fall back to Spark-only I/O — weaker
    crash-atomicity (the object store's own semantics apply), but the
    index still works instead of writing a literal 's3a:' directory on
    the driver's local disk."""
    return "://" not in path or path.startswith("file:")


def _read_stats(spark, path: str):
    """The corpus-stats row (N, avgdl, n_buckets)."""
    src = f"{path}/stats/stats.parquet" if _is_local_path(path) else f"{path}/stats"
    return spark.read.parquet(src).collect()[0]


def _doc_stats(postings: DataFrame, id_col: str) -> tuple[int, int]:
    """(number of docs, Σ doc length) of a postings frame."""
    r = (
        postings.groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl"))
        .collect()[0]
    )
    return int(r["n"]), int(r["sum_dl"] or 0)


def _stage_stats(c, n: int, avgdl: float, n_buckets: int) -> None:
    """Stage the stats row as one parquet file in journal commit ``c``,
    replacing ``stats/stats.parquet`` when ``c`` commits."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    t = pa.table(
        {
            "N": pa.array([int(n)], pa.int64()),
            "avgdl": pa.array([float(avgdl)], pa.float64()),
            "n_buckets": pa.array([int(n_buckets)], pa.int32()),
        }
    )
    papq.write_table(t, c.staged("stats.parquet"))
    c.move(c.staged("stats.parquet"), "stats/stats.parquet")


def write_postings(
    postings: DataFrame, path: str, n_buckets: int = 64, id_col: str = "doc_id"
) -> None:
    """Materialize the index: postings partitioned by md5 term bucket
    (a q-term query prunes to q directories) plus the corpus stats
    (N, avgdl, n_buckets) — computed ONCE here so no search ever pays a
    full-index aggregation for them. The stats aggregate reads the
    just-written compact parquet rather than re-running the postings
    lineage (a second explode over the raw corpus — the build must stay
    ONE heavy pass)."""
    path = norm_index_path(path)
    spark = postings.sparkSession
    out = postings.withColumn("term_bucket", hash_mod(F.col("term"), n_buckets))
    # cluster by bucket before the partitioned write: one file per bucket
    # dir instead of one per (task × bucket) — a q-term probe then opens
    # q files, not q × cluster-width (r14; same fix as write_ivf_index)
    out.repartition("term_bucket").write.partitionBy("term_bucket").mode(
        "overwrite"
    ).parquet(f"{path}/postings")
    _publish_stats(spark, path, id_col, n_buckets)


def _publish_stats(spark, path: str, id_col: str, n_buckets: int) -> None:
    """Aggregate the stats row from the whole postings and publish it."""
    n, sum_dl = _doc_stats(spark.read.parquet(f"{path}/postings"), id_col)
    avgdl = sum_dl / n if n else 1.0
    if _is_local_path(path):
        c = journal.begin(path)
        _stage_stats(c, n, avgdl, n_buckets)
        journal.commit(c)
    else:
        _write_remote_stats(spark, path, n, avgdl, n_buckets)


def _write_remote_stats(
    spark, path: str, n: int, avgdl: float, n_buckets: int
) -> None:
    spark.createDataFrame(
        [(n, avgdl, n_buckets)], "N BIGINT, avgdl DOUBLE, n_buckets INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def _add_batch(st, n_new: int, sum_dl: int) -> tuple[int, float]:
    """(N', avgdl') after a batch of ``n_new`` docs with Σdl ``sum_dl``."""
    n = int(st["N"]) + n_new
    return n, (int(st["N"]) * float(st["avgdl"]) + sum_dl) / n


def append_postings(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_over_files: int | None = 64,
    write_id: str | None = None,
) -> None:
    """Incrementally index a NEW batch into a written postings index —
    the FTS analogue of dedup.append_to_minhash_index: the standing index
    is never rebuilt or re-scanned for postings; only the batch pays the
    tokenize/explode pass, and its postings append into the same
    term-bucket partition layout.

    The batch's postings are written ONCE and the corpus stats update
    INCREMENTALLY from its doc count n and Σdl (N' = N + n; avgdl' =
    (N·avgdl + Σdl) / N'), so the append cost is O(batch) at any index
    size. On local paths the postings go to a journal stage, n and Σdl
    come from that small staged parquet, and the postings files and the
    new stats row publish as ONE plans.journal commit: a crash anywhere
    leaves the old index or rolls forward to the new one. On an object
    store (no renames, no journal) the batch is pinned, appended in
    place and counted from the pinned copy; a crash between the postings
    and the stats write leaves them apart. Batch ids must be disjoint
    from the indexed corpus (same contract as the dedup index;
    re-indexing a doc would double-count it in df and stats).

    ``compact_over_files``: when any single bucket directory exceeds the
    bound after the append, the whole postings tree re-packs via the
    size-tiered planner (single-writer maintenance point, like the
    dedup-index auto-compact).

    ``write_id``: opt-in REPLAY IDEMPOTENCE for streaming callers (local
    paths only). With a unique id per logical batch, the id commits with
    the batch and a replay of an applied id SKIPS, so a replayed
    micro-batch can never double-count tf/df/N/avgdl. Only the most
    recent id is remembered (Structured Streaming replays only the last
    uncommitted batch); passing a reused id for different data silently
    skips it — ids must be unique. Without write_id a replayed identical
    call appends again."""
    import glob
    import os

    path = norm_index_path(path)
    spark = docs.sparkSession
    local = _is_local_path(path)
    if write_id is not None and not local:
        # silently dropping the idempotence contract would re-introduce
        # the replay double-count this parameter exists to prevent — on
        # an object store the stage/commit protocol's renames don't
        # exist, so fail LOUDLY instead (review r12 follow-up)
        raise ValueError(
            "write_id replay idempotence requires a posix-rename filesystem "
            f"(local index path); got {path!r} — omit write_id (or pass "
            "replay_safe=False to postings_append_writer) to accept that "
            "replayed micro-batches double-count on this store"
        )
    if local:
        journal.recover_tree(path, writer=True)
        if write_id is not None and journal.applied_last(path) == write_id:
            return  # replay of an already-applied batch
    st = _read_stats(spark, path)
    n_buckets = int(st["n_buckets"])
    post = build_postings(docs, id_col, text_col)
    if not local:
        post = post.persist()  # no stage to count from: one tokenize pass
    # cluster on the partition column first: one file per bucket per
    # append instead of tasks × buckets (the write_postings r14 fix)
    writer = (
        post.withColumn("term_bucket", hash_mod(F.col("term"), n_buckets))
        .repartition("term_bucket")
        .write.partitionBy("term_bucket")
    )
    if not local:
        try:
            writer.mode("append").parquet(f"{path}/postings")
            n_new, sum_dl = _doc_stats(post, id_col)
        finally:
            post.unpersist()
        if n_new:
            _write_remote_stats(spark, path, *_add_batch(st, n_new, sum_dl), n_buckets)
        return
    c = journal.begin(path)
    writer.parquet(c.staged("postings"))
    staged = sorted(glob.glob(c.staged("postings", "term_bucket=*", "*.parquet")))
    if staged:
        n_new, sum_dl = _doc_stats(spark.read.parquet(c.staged("postings")), id_col)
        for i, src in enumerate(staged):
            bucket = os.path.basename(os.path.dirname(src))
            c.move(src, f"postings/{bucket}/append-{c.id}-{i}.parquet")
        _stage_stats(c, *_add_batch(st, n_new, sum_dl), n_buckets)
    journal.commit(c, write_id)
    if compact_over_files is not None:
        _maybe_compact_postings(spark, path, compact_over_files)


def _maybe_compact_postings(spark, path: str, compact_over_files: int) -> None:
    import os

    root = f"{path}/postings"
    for _dirpath, _d, files in os.walk(root):
        n_files = sum(
            1
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if n_files > compact_over_files:
            compact_postings_index(spark, path)
            break


def load_postings(spark, path: str) -> DataFrame:
    """Reopen the postings table (all buckets — for re-aggregation or
    in-memory pinning; the per-query path is search_postings_index)."""
    return spark.read.parquet(f"{norm_index_path(path)}/postings").drop("term_bucket")


def compact_postings_index(spark, path: str) -> list[str]:
    """Re-pack each term_bucket directory of a postings index with the
    size-tiered greedy planner (plans.compactor) — repeated builds or
    future appends leave multiple file-groups per bucket and the
    partition-pruned search then opens many small files per probed
    bucket. Merged outputs sort by term so row-group min/max stats prune
    within a bucket too. Single-writer maintenance op (see
    compact_parquet_dir's concurrency contract); search results are
    unchanged — same rows, fewer files."""
    from quackpipe_spark.plans.compactor import compact_parquet_tree

    path = norm_index_path(path)
    journal.recover(path, writer=True)  # finish a pending append first
    return compact_parquet_tree(spark, f"{path}/postings", order_by=["term"])


def _terms(query: str) -> list[str]:
    # driver-side tokenization MUST mirror dedup.tokenize (trim+lower+\s+)
    # so a query term matches the postings' term domain exactly
    # re.ASCII: Java's \s is ASCII-only, so a Unicode space (NBSP etc.)
    # is TERM TEXT in the index — a Unicode-aware split here would break
    # the query term apart and probe the wrong buckets (silent zero
    # hits); stateful.py's tokenizer mirror pins the same flag
    terms = sorted(
        {t for t in re.split(r"\s+", query.strip(" ").lower(), flags=re.ASCII) if t}
    )
    if not terms:
        raise ValueError("empty query")
    return terms


def _bm25_rank(
    matched: DataFrame,
    id_col: str,
    n_docs: int,
    avgdl: float,
    topk: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Score matched postings and return (id, rank, score) — document
    frequencies aggregate over just the matched terms' rows. Ranking
    orders by the UNROUNDED score (rounding only the displayed value):
    ordering by a rounded score would re-rank near-boundary pairs by the
    id tie-break, diverging from any oracle that orders raw scores."""
    dfreq = matched.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    contrib = idf * tf * (k1 + 1.0) / denom
    scored = (
        matched.join(F.broadcast(dfreq), "term")
        .select(F.col(id_col), contrib.alias("_c"))
        .groupBy(id_col)
        .agg(F.sum("_c").alias("_score"))
    )
    # distributed top-k first (TakeOrderedAndProject — no global window over
    # the full candidate set), then rank the ≤topk survivors
    top = scored.orderBy(F.desc("_score"), F.asc(id_col)).limit(topk)
    w = Window.orderBy(F.desc("_score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", F.round("_score", 6).alias("score")
    )


def bm25_search(
    postings: DataFrame,
    query: str,
    id_col: str = "doc_id",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k docs for a keyword query over an in-memory postings frame.

    Corpus stats aggregate over the postings' per-doc rows each call —
    acceptable for a pinned/cached index; for a materialized 100 TB
    index use :func:`search_postings_index`, which reads stats from the
    build artifact and prunes to the query terms' buckets."""
    terms = _terms(query)
    stats = postings.select(id_col, "dl").groupBy(id_col).agg(F.first("dl").alias("dl"))
    g = stats.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).collect()[0]
    matched = postings.filter(F.col("term").isin(terms))
    return _bm25_rank(
        matched, id_col, g["N"], float(g["avgdl"] or 1.0), topk, k1, b
    )


def bm25_scan(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Ad-hoc BM25 over RAW docs — no postings build, no index, ONE action.

    For a q-term query, per-doc term frequencies are row-local:
    tf(t) = size(filter(tokens, x -> x = t)), one array scan per term
    inside whole-stage codegen. The corpus never explodes, nothing wide
    shuffles, and there is no per-doc groupBy — scoring is a row-local
    expression once the 1-row stats frame (N, avgdl, per-term df, all
    from one aggregation) broadcasts back. Compare: routing an ad-hoc
    query through ``build_postings`` moves O(corpus tokens) rows through
    a groupBy for information the scan already holds per row. For a
    standing index over a 100 TB corpus, build `write_postings` once and
    use `search_postings_index` instead.

    Scores are deterministic by construction (fixed term-sorted addition
    order — see the inline note), unlike the unordered F.sum path in
    `_bm25_rank`.

    The tokenized array is bound behind a Filter barrier so the split
    runs once per row (CollapseProject would otherwise inline it into
    every per-term lambda; higher-order functions are excluded from
    codegen subexpression elimination)."""
    terms = _terms(query)
    # id-repartition before tokenizing (the shingle_table lesson): a
    # small/compact parquet source arrives as one scan split, which would
    # single-thread the tokenization. The null filter is on RAW text (not
    # the tokenized array — same rows: split/trim/lower are null-in
    # null-out) so the scan-side pushed filter stays a cheap null check
    # instead of evaluating the split. The exchange is ALSO the
    # ReuseExchange point both DAG branches share (stats agg + probe
    # side), so it must stay even when tiny — but its partition COUNT
    # follows the data (see dedup.shingle_table), not the core count.
    from quackpipe_spark.operators.util import sized_parts

    rep = docs.filter(F.col(text_col).isNotNull()).repartition(
        sized_parts(docs, 1 << 20), F.col(id_col)
    )
    toks = rep.select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks"))

    def _tf(term: str):
        # single-arg lambda via closure: a 2-arg lambda would make PySpark
        # pass the ELEMENT INDEX as the second argument
        return F.size(F.filter("_toks", lambda x: x == F.lit(term)))

    proj = toks.select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    # corpus stats AND per-term document frequencies in ONE aggregation
    # (df(t) = count of docs with tf>0), joined back as a broadcast 1-row
    # frame: the whole query is a single action, and both DAG branches sit
    # on the same repartition exchange, which ReuseExchange dedupes — the
    # scan runs once
    stats = proj.agg(
        F.count("*").alias("_N"),
        F.coalesce(F.avg("dl"), F.lit(1.0)).alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    j = proj.crossJoin(F.broadcast(stats))
    # per-doc score as a FIXED-ORDER sum of per-term contributions, terms
    # sorted ascending — identical to a sequential fold over term-sorted
    # matched contributions (absent terms add exact 0.0, and idf > 0 rules
    # out -0.0), so this row-local form is deterministic by construction
    # and bit-equal to the oracle's ordered list_reduce
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}")
        idf = F.log(
            1.0 + (F.col("_N").cast("double") - df + 0.5) / (df + 0.5)
        )
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
        score = score + F.when(
            F.col(f"_tf{i}") > 0, idf * tf * (k1 + 1.0) / denom
        ).otherwise(F.lit(0.0))
    # match filter as score > 0 (every contribution is strictly positive:
    # idf > 0 whenever df ≤ N, tf > 0 for present terms — so score > 0 ⟺
    # ≥1 query term present). Deliberately NOT a greatest(tf…)>0 predicate
    # on the doc side: that pushes through the exchange into the scan and
    # serializes the tokenization onto the (possibly single) scan split,
    # while a predicate over both join sides stays above the broadcast
    # join, post-exchange, fully parallel.
    # rank by the UNROUNDED score (round only the displayed value) — the
    # oracle's top-k CTE orders raw scores, so rounding before the sort
    # would let the id tie-break re-rank near-boundary pairs
    scored = j.filter(score > 0).select(F.col(id_col), score.alias("_score"))
    top = scored.orderBy(F.desc("_score"), F.asc(id_col)).limit(topk)
    w = Window.orderBy(F.desc("_score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "rank", F.round("_score", 6).alias("score")
    )


def search_postings_index(
    spark,
    path: str,
    query: str,
    id_col: str = "doc_id",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Search a written index the scale-correct way: corpus stats come
    from the build artifact (no full-index aggregation), and the scan is
    pre-filtered to the query terms' md5 buckets — partition pruning
    reads ≤ q of n_buckets directories for a q-term query. A committed
    but unfinished append (in the root) or merge (in a probed bucket) is
    rolled forward first (plans.journal), so stats and postings agree; a
    search overlapping a LIVE append may still see its postings before
    its stats (no snapshot isolation)."""
    path = norm_index_path(path)
    terms = _terms(query)
    local = _is_local_path(path)
    if local:
        journal.recover(path, writer=False)
    st = _read_stats(spark, path)
    buckets = sorted({hash_mod_py(t, st["n_buckets"]) for t in terms})
    if local:
        for bucket in buckets:
            journal.recover(f"{path}/postings/term_bucket={bucket}", writer=False)
    matched = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .drop("term_bucket")
    )
    return _bm25_rank(
        matched, id_col, int(st["N"]), float(st["avgdl"]), topk, k1, b
    )
