"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB regime:

- **exact**: one hash-groupBy on a text fingerprint — a single shuffle on
  md5(text); survivors picked with min(id) (no window needed).
- **minhash-LSH**: shingle explode → one groupBy(doc) computing all k
  minhashes as k aggregates → band hashes → self-join on (band, hash).
  The docs are hash-partitioned by id BEFORE the explode, so the groupBy
  needs no exchange: the only shuffle moves compact doc rows, never the
  row-multiplied shingle table. Join cardinality is bounded by bucket
  sizes, not n²; skewed buckets are handled by AQE skew-join.
- **simhash**: per-row fold over the token array with a bits-wide signed
  accumulator (no explode, no shuffle) → byte-banded self-join for
  hamming candidates.
- **jaccard verify**: candidate pairs only (never all pairs) — shingle
  semi-joined to the candidate set before the intersection count.

All hashes are md5-derived so any engine (the DuckDB oracle included)
reproduces identical signatures — no engine-private hash functions in
results. Determinism is part of the operator contract: re-running dedup
on the same corpus keeps the same survivors.
"""

from __future__ import annotations

import logging
import re
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quackpipe_spark.plans import journal


#: Default ceiling (in BATCH rows) under which the index probes force a
#: broadcast of the batch side. Bands-per-doc ≈ 4 and ~80 bytes/banded row
#: put a 1M-doc batch around 320 MB broadcast — the practical upper edge
#: for executor-memory safety. Above it the hint is dropped and the join
#: falls back to a shuffle (AQE may still choose broadcast from real
#: stats); the index side itself never shuffles either way beyond that
#: fallback.
PROBE_BROADCAST_MAX_ROWS = 1_000_000

#: Ceiling (in candidate-id rows) under which jaccard_verify broadcasts
#: the candidate id set for its docs semi-join. Bigint ids cost ~40 B/row
#: as a driver HashedRelation, so 1M ids ≈ 40 MB — comfortably inside
#: maxResultSize while still covering every sane blocking outcome; past
#: it the semi-join shuffles (and AQE can re-broadcast from real stats).
_BROADCAST_IDS_MAX = 1_000_000


# Optimized-plan node names whose recomputation is no more expensive
# than reading them once: scans, row-local projections/filters over a
# scan, in-memory (already cached) relations, tiny local data. Anything
# else in a probe batch's lineage (joins, aggregates, UDF stages,
# exchanges) makes the gate's count() a full re-execution.
_CHEAP_PLAN_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "Project",
        "Filter",
        "LocalRelation",
        "InMemoryRelation",
        "GlobalLimit",
        "LocalLimit",
        "LogicalRDD",
        "Range",
    }
)
_PLAN_NODE_RE = re.compile(r"[A-Za-z]+")


def _cheap_to_recount(df: DataFrame) -> bool:
    """True when the frame is already cached or its optimized plan is
    scan-shaped (see _CHEAP_PLAN_NODES) — i.e. counting it does not pay
    for any derived computation twice. Unknown/unparseable plans report
    False (persisting a cheap frame wastes a little memory; re-running
    an expensive lineage wastes a lot of compute)."""
    try:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return True
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        m = _PLAN_NODE_RE.search(line)
        if m and m.group(0) not in _CHEAP_PLAN_NODES:
            return False
    return True


def _probe_hint(probe: DataFrame, source: DataFrame, max_rows: int | None) -> DataFrame:
    """Size-gate the broadcast hint on the batch side of an index probe.

    ``source`` is the raw batch frame (one row per doc — cheaper to count
    than the derived banded/fingerprint frame, which would re-run the
    hashing lineage). Broadcast only when the batch is verifiably under
    ``max_rows``; a quarter-corpus-sized "increment" must NOT be force-
    broadcast into executor OOM. ``max_rows=None`` disables the gate and
    never hints.

    A plain parallel count(), deliberately NOT limit-capped: for the
    normal inputs (parquet scans, micro-batches) count() is a cheap
    parallel — often metadata-only — scan, while limit(n).count()
    funnels up to n rows per partition through one GlobalLimit task,
    which is strictly slower exactly where the gate runs most.

    A DERIVED, un-cached batch (join/agg/UDF output rather than a scan)
    is NOT counted: the gate's count() would re-run the whole lineage the
    probe is about to run again, and persisting it here would leak the
    cache (the probe is lazy — there is no point after it at which this
    helper could unpersist). Such a source takes the no-hint path, which
    is safe at any size, and AQE still converts the probe join to
    broadcast at runtime when the executed batch turns out small — the
    hint only exists to FORCE the broadcast where a cheap count can prove
    it safe. A caller who wants the forced hint on a derived batch can
    persist it first (then it counts as cached here)."""
    if max_rows is None or max_rows <= 0:
        return probe
    if not _cheap_to_recount(source):
        return probe
    if source.count() <= max_rows:
        return F.broadcast(probe)
    return probe


def _index_text_col(m, text_col: str | None) -> str:
    """Resolve the probe's text column from the index meta row.

    The meta pins ``text_col`` (since r7) so an index built from a
    non-default column can't be silently probed on the wrong one when the
    batch happens to also carry a ``text`` column. An explicit mismatch
    raises (mirroring the shingle_k guard) — rename the batch column
    (``withColumnRenamed``) if it legitimately differs. Pre-r7 indexes
    without the meta field fall back to the caller's value or 'text'."""
    pinned = m["text_col"] if "text_col" in m.__fields__ else None
    if text_col is None:
        return pinned if pinned is not None else "text"
    if pinned is not None and text_col != pinned:
        raise ValueError(
            f"index built with text_col={pinned!r}, probe asked {text_col!r}; "
            "rename the batch column instead of overriding the index recipe"
        )
    return text_col


def tokenize(col) -> Column:
    """Whitespace tokenization with trim+lower normalization (identical
    semantics to the oracle's string_split_regex(trim(lower(x)), '\\s+'))."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def gram_array(tokens: Column, k: int, *, hash_grams: bool = False) -> Column:
    """Positioned k-gram strings from a token array — the ONE gram-emission
    expression shared by shingling, substring-passage dedup, and n-gram
    counting, so the gram definition can't drift between operators.

    element_at (O(1)) rather than slice (O(n) copy per index — measured 6×
    slower end-to-end on 300-token docs). The caller MUST guard
    size(tokens) >= k upstream: Spark's sequence(1, n) with n<1 infers a
    NEGATIVE step and produces garbage indices. ``hash_grams`` emits
    md5(gram) instead of the gram text (fixed-width fingerprints for the
    positioned-gram dup table)."""

    def _one(i: Column) -> Column:
        g = F.concat_ws(" ", *[F.element_at(tokens, i + off) for off in range(k)])
        return F.md5(g) if hash_grams else g

    return F.transform(F.sequence(F.lit(1), F.size(tokens) - (k - 1)), _one)


def shingle_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) pairs — the exploded form every stage shares.

    Tokens are bound to a named column before shingling so the split runs
    once per row (inlining the split expression into every element_at
    would defeat common-subexpression elimination across the transform).

    The input is repartitioned by id first: a small/compact parquet source
    arrives as ONE scan split, which would single-thread every md5 in the
    pipeline downstream — and hashing id-partitions the rows so the
    per-doc groupBys that follow need no further shuffle. The partition
    COUNT follows the data (one partition per ~1 MB of docs, capped at
    the cluster parallelism — guide §2.2): the exchange always stays (it
    is the clustering the downstream aggs reuse; skipping it would push
    a post-explode shuffle of the shingle rows back in), but a
    kilobyte-scale corpus is no longer smeared over `parallelism` tasks
    in every stage above it.

    Short docs are dropped by filtering on token count BEFORE building the
    shingle array (not by wrapping the array expression in when()+filter —
    projection collapse inlines that guarded expression into both the
    filter and the generate and the plan goes ~25× slower)."""
    from quackpipe_spark.operators.util import sized_parts

    base = (
        # 64 KB/task like the simhash fold, NOT the 1 MB/task of the
        # tokenize-only pipelines: the downstream signature stage runs
        # num_hashes md5s per shingle (~1 shingle per text word), the
        # heaviest per-byte work in the tree — at sf0.1 the candidate
        # job is ~4-6 core-seconds of md5, which a 1 MB/task sizing
        # measurably serialized (phase probe: candidates job ~5 s on
        # one task vs ~1.5 s spread)
        docs.repartition(sized_parts(docs, 64 << 10), F.col(id_col))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= k)
    )
    sh = F.array_distinct(gram_array(F.col("_toks"), k))
    return base.select(id_col, F.explode(sh).alias("shingle"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text, keeping the
    smallest id (deterministic survivor), with the duplicate count.

    NULL-text docs are EXCLUDED: their content is unknown, not identical —
    groupBy's NULL-equality previously collapsed all of them into one
    cluster whose survivors rule would delete N-1 docs of unknown content,
    and disagreed with exact_dups_against_index, whose fingerprint
    equi-join never matches NULL (review r12). A NULL-text doc simply has
    no cluster row (every one is its own trivial survivor)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """k min-hashes per doc in ONE aggregation pass — and deliberately NOT
    a per-row fold.

    minhash_i(doc) = min over shingles of md5('{i}|' + shingle) — the md5
    hex string ordering is the hash ordering (portable across engines).

    Plan shape: shingle_table hash-partitions the compact doc rows by id
    BEFORE exploding, so this groupBy's clustering requirement is already
    satisfied and Catalyst inserts NO exchange — the row-multiplied
    shingle table never crosses the wire, and the k min() aggregates run
    inside whole-stage codegen. A per-row formulation (one F.aggregate
    fold with a k-wide running-min accumulator, the simhash pattern) was
    measured 10× SLOWER despite identical hash counts: higher-order
    lambdas evaluate interpreted, and at k·|shingles| md5s per doc the
    interpreted-vs-codegen gap dwarfs the explode bookkeeping. simhash
    keeps the fold because its per-element work is one md5 + integer
    arithmetic; here it is k md5s, which must stay codegen-side.
    """
    sh = shingle_table(docs, id_col, text_col, shingle_k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    # shingle count rides along for free — downstream jaccard needs |A|,|B|
    # and this saves it a whole second groupBy over the explode
    aggs.append(F.count("*").alias("n_shingles"))
    return sh.groupBy(id_col).agg(*aggs)


def band_table(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry…], band, bh) LSH band rows from a signature frame —
    band_hash = md5 over the band's r = num_hashes/bands signature
    columns. The ONE banding recipe shared by the self-join candidate
    stage and the persisted incremental index (and mirrored
    bit-identically by the streaming near-dup state's pandas fold).
    ``carry_cols`` ride the same projection — a join-back for a rider
    column would put a SECOND copy of the whole signature pipeline in
    the plan (two aggregation subtrees over one exchange, each computing
    every md5).

    Recipe validation: bands must divide num_hashes. Silent truncation
    would give a different recall curve than requested, and
    bands > num_hashes would degenerate every band hash to md5('') —
    the banded self-join then builds the full n×n cross product (a
    runaway job at corpus scale) with no error."""
    if bands < 1 or num_hashes < bands or num_hashes % bands != 0:
        # num_hashes < bands includes num_hashes=0, which slipped the
        # old modulo-only check (0 % bands == 0) and degenerated every
        # band hash to md5('') — the documented full n×n cross product,
        # with no error (review r14, execution-confirmed)
        raise ValueError(
            f"bands must divide num_hashes with >= 1 row per band: got "
            f"num_hashes={num_hashes}, bands={bands}"
        )
    rows = num_hashes // bands
    band_hashes = F.array(
        *[
            F.md5(F.concat_ws("", *[F.col(f"h{b * rows + i}") for i in range(rows)]))
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.posexplode(band_hashes).alias("band", "bh"),
    )


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band the signature and emit candidate pairs (a < b) per (band,
    band_hash) bucket. Rows per band r = num_hashes/bands; P(candidate) =
    1-(1-j^r)^b — tune (bands, r) per corpus similarity target.

    Formulated as ONE groupBy over the banded table — each bucket
    collects its sorted member ids and emits the pairs from the array
    (identical set to a (band, bh) self-join with l.id < r.id, since
    position order = id order) — NOT as a self-join. The self-join
    consumed the banded table twice, and because the signature aggregate
    is exchange-free (shingle_table pre-partitions by id) there is no
    Exchange for the planner to reuse between the two sides: the whole
    shingle-explode + k-md5 aggregation pipeline ran ONCE PER SIDE
    (confirmed in the r15 plan audit — 2× Generate/agg subtrees), which
    is why minhash_candidates had to persist() the signature frame and
    pay a blocking count() barrier to pin it. The grouped form consumes
    the banded table once, so the barrier (and the corpus-sized
    signature cache at 100 TB — a memory liability, not an asset) is
    deleted outright, and the banded rows cross the wire once instead
    of twice (guide: aggregate before you shuffle).

    Scale: a bucket of m colliding docs holds one m-length id array and
    emits m·(m-1)/2 pairs — the same quadratic pair count the self-join
    produced for that bucket; the distinct() dedups pairs matching in
    several bands exactly as before. Pair emission is CHUNKED per
    member (posexplode the member index first, slice the tail after the
    explode): every physical row is O(m) — the bucket's id array plus
    one emitted pair — never the m·(m-1)/2-struct array a single-row
    flatten(transform(transform)) materializes. A degenerate bucket
    (boilerplate band value over millions of docs) therefore streams
    its quadratic pair set through the Generate instead of building it
    inside ONE aggregation buffer / UnsafeRow — the skewed-bucket OOM
    class of the flattened form (guide §2.5); the quadratic WORK is
    inherent to emitting the pairs and unchanged."""
    banded = band_table(sigs, id_col, num_hashes, bands)
    grouped = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        grouped.select("ids", F.posexplode("ids").alias("i", "a"))
        .select(
            F.col("a"),
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("b"),
        )
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    pairs_count: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    The semi-join lands on ``docs`` BEFORE the shingle explode, so verify
    work is proportional to the CANDIDATE set, not the corpus — the
    blocking/LSH stage already paid one full-corpus explode; re-exploding
    all docs here (the previous plan) doubles the heaviest stage at scale
    for no reason. Each candidate doc's shingles are then collected into
    one array (no shuffle: shingle_table is id-partitioned) and
    |A∩B| is a JVM ``array_intersect`` per pair; |A∪B| = |A|+|B|-|A∩B|.
    Output (a, b, jaccard) filtered to ≥ threshold.

    Scale: broadcasting cand_ids assumes candidates ≪ corpus — that is
    the contract of any blocking scheme worth running (ids only, ~8 B/row)
    — but the broadcast is COUNT-GATED like the incremental-dedup batch
    side: an unconditional hint would collect an unbounded id set to the
    driver on a boilerplate-heavy corpus (1e8 candidate ids ≈ 800 MB of
    HashedRelation — the maxResultSize zone). Over the gate the semi-join
    shuffles instead, and AQE still converts it back to broadcast at
    runtime if the post-shuffle side turns out small. The gate reads
    ``pairs_count`` (callers that ran minhash_candidates already hold
    it — zero extra jobs) or falls back to ``pairs.count()`` on the
    caller-persisted pair set; either way the id union+distinct stays
    lazy and its shuffle is paid exactly ONCE, at execution — counting
    the distinct ids themselves (the pre-r12 gate) ran that shuffle a
    second, thrown-away time (ADVICE r11). 2·pairs is a conservative
    bound on distinct ids, so the fallback only ever errs toward the
    always-safe shuffle plan. A doc in many pairs replicates its array
    per pair, same row growth as the exploded-join alternative."""
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    n_bound = 2 * (pairs_count if pairs_count is not None else pairs.count())
    if n_bound <= _BROADCAST_IDS_MAX:
        cand_ids = F.broadcast(cand_ids)
    cand_docs = docs.join(cand_ids, id_col, "left_semi")
    # 64-bit shingle fingerprints, not raw gram strings (VERDICT r12 #3):
    # a 3-token gram costs ~34 B as a UTF8String vs 8 B as a long, so the
    # per-doc set arrays — which replicate per candidate pair and sit in
    # the un-spillable SHUFFLE_HASH build maps below — shrink ~4×. This
    # was the 1M-doc GC cliff at the default 24 g single-JVM heap: dup
    # clusters of size m replicate each member's array m-1 times, and the
    # fat-string builds thrashed full GC. Intersection/set sizes are
    # unchanged modulo an in-doc xxhash64 collision (~n²/2⁶⁵ per doc,
    # ~1e-15 at 300 shingles) — the jaccard values, and therefore the
    # oracle gate, are unaffected.
    sets = (
        shingle_table(cand_docs, id_col, text_col, shingle_k)
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64("shingle")).alias("shset"))
        # NOTE (r15 plan audit): the a- and b-side joins below each
        # consume this subtree, and because the collect_set agg is
        # exchange-free (shingle_table pre-partitions by id) there is no
        # Exchange boundary for the planner to reuse — the candidate-doc
        # set-building pipeline executes once per side. An explicit
        # .repartition(id_col) here does NOT fix it: the output is
        # already hash-partitioned on id, so the optimizer elides the
        # redundant exchange (verified against the executed plan). The
        # duplication is bounded by the CANDIDATE set (≤ 2·pairs docs,
        # ≪ corpus under any blocking scheme worth running), so it is
        # accepted rather than paying a pair-melt + fat-array re-agg
        # shuffle to share it.
    )
    # SHUFFLE_HASH on the sets side, unconditionally: Catalyst's static
    # estimate for the exchange-free collect_set agg undershoots badly
    # enough to pick BroadcastHashJoin — at 100x data that collected
    # ~1 GiB of shingle arrays to the driver and died on maxResultSize
    # (caught by the r11 full-scale run). A count-gated broadcast was
    # also tried and MEASURED SLOWER even at sf0.1 (same-session A/B,
    # 3.44s vs 3.04s: the broadcast pays a separate collect job while
    # the fat-array exchange is tiny), so the shuffle path is simply
    # the right plan at every scale — no sort wasted on fat rows.
    j = pairs.join(
        sets.select(F.col(id_col).alias("a"), F.col("shset").alias("sa")).hint(
            "shuffle_hash"
        ),
        "a",
    ).join(
        sets.select(F.col(id_col).alias("b"), F.col("shset").alias("sb")).hint(
            "shuffle_hash"
        ),
        "b",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        j.select(
            "a",
            "b",
            F.round(inter / (F.size("sa") + F.size("sb") - inter), 3).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> tuple[DataFrame, int]:
    """Materialized LSH candidate pairs plus their count — the shared
    prefix of minhash_dedup / minhash_clusters / corpus_clean.

    Persistence discipline (the reason this exists ONCE): the candidate
    set's lineage is the whole minhash+LSH pipeline while jaccard_verify
    fans out into several concurrently-launched consumer branches
    (broadcast futures for cand_ids, the pair join, the size joins) —
    a LAZY persist loses that race and every branch redundantly
    recomputes the pipeline (observed 9 simultaneous copies), so the
    persist blocks on count(). The count doubles as the closure's
    edge_bound (verified pairs ⊆ candidates). The signature frame is NOT
    persisted: since the r15 grouped-pairs rewrite of lsh_candidates the
    pipeline consumes it exactly once, fused into the candidate job —
    the old persist+count existed only because the banded self-join
    re-ran the exchange-free signature aggregate on both sides, and at
    100 TB it pinned a corpus-sized cache. Lifetime note (the checkpoint
    differs from the persist it replaced): checkpointed blocks do NOT
    register in the cache manager, so spark.catalog.clearCache() no
    longer frees them — they are released when the returned DataFrame
    is garbage-collected (ContextCleaner). Callers running many corpora
    through one session should DROP their references to the returned
    frame between corpora rather than rely on clearCache()."""
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k)
    # localCheckpoint (eager), not persist: the materialization barrier is
    # identical, but checkpointing TRUNCATES the logical plan — consumers
    # see a LogicalRDD leaf instead of an InMemoryRelation wrapping the
    # whole minhash pipeline, so every downstream analysis/optimization
    # pass (jaccard_verify's several join branches, corpus_clean's
    # closure) stops re-walking the full candidate lineage (guide §3.3;
    # measured −15% on the gate query). Trade, same as cluster.py's CC
    # rounds: localCheckpoint has no lineage to recompute lost
    # partitions from — on a cluster with flaky executors, call
    # spark.sparkContext.setCheckpointDir(...) and eager_barrier
    # upgrades to the reliable checkpoint() automatically.
    from quackpipe_spark.operators.util import eager_barrier

    cands = eager_barrier(lsh_candidates(sigs, id_col, num_hashes, bands))
    n_cands = cands.count()
    return cands, n_cands


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH candidates → exact-jaccard
    verification. Returns (a, b, jaccard ≥ threshold).

    The exploded shingle table exists only inside the signature stage's
    codegen pipeline (see minhash_signatures: the explode is pre-
    partitioned, so it never shuffles and is never materialized);
    verification re-shingles only the candidate docs (jaccard_verify).
    Persist/race rationale lives in minhash_candidates."""
    cands, n_cands = minhash_candidates(
        docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    return jaccard_verify(
        docs, cands, id_col, text_col, shingle_k, threshold, pairs_count=n_cands
    )


def minhash_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The full near-dup dedup most callers want in one call: minhash →
    LSH candidates → jaccard verify → connected-component closure →
    ``docs`` annotated with (component, is_canonical). Filter on
    is_canonical to keep one survivor per duplicate CLUSTER (chains
    a≈b≈c collapse even when (a,c) was never a candidate pair).

    The materialized LSH candidate count — an upper bound on verified
    pairs — feeds the closure's ``edge_bound``, so for any realistically
    sized candidate set the component labeling is a LAZY single-task
    union-find fused into the consumer's job; huge candidate sets fall
    back to the distributed star rounds automatically
    (operators/cluster.py)."""
    from quackpipe_spark.operators.cluster import cluster_near_dups

    cands, n_cands = minhash_candidates(
        docs, id_col, text_col, num_hashes, bands, shingle_k
    )
    pairs = jaccard_verify(
        docs, cands, id_col, text_col, shingle_k, threshold, pairs_count=n_cands
    )
    return cluster_near_dups(
        docs, pairs.select("a", "b"), id_col=id_col, edge_bound=n_cands
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> None:
    """Materialize the corpus's LSH band table for INCREMENTAL dedup —
    the 100 TB daily-increment workflow: index the corpus once, then
    every new batch probes the index (dedup_against_index) instead of
    re-running minhash over corpus+batch.

    Layout: ``{path}/bands`` = (id, band, bh, n_shingles) parquet —
    compact (bands rows/doc, two md5-hex strings + two ints), ~1/1000 of
    corpus text volume; ``{path}/fingerprints`` = (id, md5(text)) for the
    exact-dup probe (exact_dups_against_index); ``{path}/meta`` pins the
    recipe parameters so a probe with mismatched (num_hashes, bands,
    shingle_k) fails loudly instead of silently missing every collision.
    n_shingles rides along so future verify stages can compute Jaccard
    denominators without re-shingling the OLD side when only |A∩B| is
    needed per pair."""
    from quackpipe_spark.plans.index import norm_index_path

    path = norm_index_path(path)
    spark = docs.sparkSession
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k)
    banded = band_table(
        sigs, id_col, num_hashes, bands, carry_cols=("n_shingles",)
    )
    banded.write.mode("overwrite").parquet(f"{path}/bands")
    _fingerprints(docs, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/fingerprints"
    )
    spark.createDataFrame(
        [(num_hashes, bands, shingle_k, id_col, text_col)],
        "num_hashes int, bands int, shingle_k int, id_col string, text_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _fingerprints(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # exact-dup side of the index: one md5 per doc (same fingerprint
    # domain as exact_dedup)
    return docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint")
    )


def exact_dups_against_index(
    new_docs: DataFrame,
    path: str,
    text_col: str | None = None,
    broadcast_max_rows: int | None = PROBE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """EXACT duplicates between a new batch and the indexed corpus:
    (new_id, old_id) pairs with identical text md5. Same scale shape as
    the near-dup probe — the batch's (id, fingerprint) rows broadcast
    against the index's fingerprint scan when the batch is verifiably
    under ``broadcast_max_rows`` (oversized batches fall back to a
    shuffle join instead of a forced-broadcast OOM); the index side
    never shuffles in the broadcast case."""
    spark = new_docs.sparkSession
    m = _load_meta(spark, path)
    id_col = m["id_col"]
    text_col = _index_text_col(m, text_col)
    new_fp = _fingerprints(new_docs, id_col, text_col).select(
        F.col(id_col).alias("_new_id"), "fingerprint"
    )
    idx = spark.read.parquet(f"{path}/fingerprints")
    return (
        idx.join(_probe_hint(new_fp, new_docs, broadcast_max_rows), "fingerprint")
        .filter(F.col(id_col) != F.col("_new_id"))
        .select(F.col("_new_id").alias("new_id"), F.col(id_col).alias("old_id"))
    )


def diff_fingerprint_indexes(
    spark,
    path_a: str,
    path_b: str,
) -> DataFrame:
    """Corpus-version diff from two index snapshots' fingerprint tables
    (write_minhash_index layouts): per doc id, ``added`` (only in B),
    ``removed`` (only in A), ``changed`` (both, different text md5), or
    ``same``. Runs entirely on the compact fingerprint tables — one
    sort-merge join on id, never touching document text — so auditing
    what a curation release changed costs index-scan time even when the
    corpora are 100 TB."""
    a = spark.read.parquet(f"{path_a}/fingerprints")
    b = spark.read.parquet(f"{path_b}/fingerprints")
    id_col = [c for c in a.columns if c != "fingerprint"][0]
    # presence markers, NOT fingerprint nullness: md5(NULL-text) is a
    # NULL fingerprint for a PRESENT row, so deciding added/removed from
    # _fa/_fb IS NULL misclassified every NULL-text doc (present in both
    # → 'added'; text→NULL → 'removed'; review r12). eqNullSafe makes
    # NULL→NULL 'same' and NULL↔text 'changed'.
    j = a.select(
        F.col(id_col), F.col("fingerprint").alias("_fa"), F.lit(True).alias("_pa")
    ).join(
        b.select(
            F.col(id_col), F.col("fingerprint").alias("_fb"), F.lit(True).alias("_pb")
        ),
        id_col,
        "full_outer",
    )
    status = (
        F.when(F.col("_pa").isNull(), F.lit("added"))
        .when(F.col("_pb").isNull(), F.lit("removed"))
        .when(~F.col("_fa").eqNullSafe(F.col("_fb")), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(F.col(id_col), status.alias("status"))


def append_to_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str | None = None,
    compact_over_files: int | None = 64,
    write_id: str | None = None,
) -> None:
    """Append a (deduplicated) batch's band rows to an existing index —
    the second half of the incremental loop: probe, drop dups, append
    survivors. Parameters (text_col included) come from the index's own
    meta, so an append can never diverge from the recipe the index was
    built with.

    The two relations (bands + fingerprints) land ATOMICALLY together:
    on local paths both are staged and published as ONE plans.journal
    commit, so a crash anywhere leaves neither visible or rolls both
    forward at the next index access (see that module for the crash
    and race contract).

    ``write_id``: opt-in REPLAY IDEMPOTENCE (local paths only, same
    contract as fts.append_postings): with a unique id per logical
    batch, a crashed-then-rerun append is exactly-once — a post-commit
    rerun sees the id applied and SKIPS. Only the most recent id is
    remembered; ids must be unique per batch.

    ``compact_over_files``: after the append, if the bands dir holds more
    than this many parquet files, run compact_minhash_index in-line —
    the append loop is the index's single writer, so this is exactly the
    safe point, and it keeps probe scan-planning flat without a separate
    maintenance scheduler. None disables (run the compactor yourself)."""
    import glob as _glob
    import os as _os

    from quackpipe_spark.plans.index import norm_index_path

    spark = docs.sparkSession
    path = norm_index_path(path)
    local = "://" not in path
    if write_id is not None and not local:
        # silently dropping the idempotence contract would re-introduce
        # the replay double-count this parameter exists to prevent — on
        # an object store the stage/commit protocol's renames don't
        # exist, so fail LOUDLY instead (same contract as fts)
        raise ValueError(
            "write_id replay idempotence requires a posix-rename filesystem "
            f"(local index path); got {path!r} — omit write_id to accept "
            "that replayed appends double-insert on this store"
        )
    m = _load_meta(spark, path, writer=local)
    if write_id is not None and journal.applied_last(path) == write_id:
        return  # replay of an already-applied batch
    text_col = _index_text_col(m, text_col)
    sigs = minhash_signatures(
        docs, m["id_col"], text_col, m["num_hashes"], m["shingle_k"]
    )
    banded = band_table(
        sigs, m["id_col"], m["num_hashes"], m["bands"], carry_cols=("n_shingles",)
    )
    fps = _fingerprints(docs, m["id_col"], text_col)
    if local:
        c = journal.begin(path)
        for rel, df in (("bands", banded), ("fingerprints", fps)):
            df.write.parquet(c.staged(rel))
            for i, src in enumerate(sorted(_glob.glob(c.staged(rel, "*.parquet")))):
                c.move(src, f"{rel}/append-{c.id}-{i}.parquet")
        journal.commit(c, write_id)
    else:
        # object store: no posix renames, so the journal can't run — two
        # plain appends with the documented torn-append risk (the caller
        # opted out of write_id above, loudly)
        banded.write.mode("append").parquet(f"{path}/bands")
        fps.write.mode("append").parquet(f"{path}/fingerprints")
    if compact_over_files is not None and local:
        n_files = sum(
            1
            for e in _os.scandir(f"{path}/bands")
            if e.name.endswith(".parquet") and not e.name.startswith((".", "_"))
        )
        if n_files > compact_over_files:
            compact_minhash_index(spark, path)


def _load_meta(spark, path: str, writer: bool = False):
    """Crash recovery + the index meta row, single-sourced for every
    probe/append entry point. Every index access rolls committed journal
    commits forward; only the append (the single WRITER) also sweeps
    uncommitted stages (plans.journal's race contract)."""
    from quackpipe_spark.plans.index import norm_index_path

    path = norm_index_path(path)
    if "://" not in path:
        journal.recover_tree(path, writer)
    return spark.read.parquet(f"{path}/meta").collect()[0]


def compact_minhash_index(spark, path: str) -> list[str]:
    """Re-pack an incrementally-appended index's file sets with the
    size-tiered greedy planner (plans.compactor) — after N daily
    append_to_minhash_index calls the bands/fingerprints dirs hold N
    Spark file-groups and probe scan-planning degrades linearly in N.
    Bands sort by (band, bh) and fingerprints by fingerprint in the
    merged outputs, so parquet row-group min/max stats can prune future
    probe scans. Run from the index's single writer between probe cycles
    (the incremental loop is sequential: probe → append → [compact]);
    probe results are unchanged by construction — same rows, fewer
    files. Returns the new file paths."""
    from quackpipe_spark.plans.compactor import compact_parquet_dir
    from quackpipe_spark.plans.index import norm_index_path

    path = norm_index_path(path)
    journal.recover(path, writer=True)  # finish a pending append first
    out = compact_parquet_dir(spark, f"{path}/bands", order_by=["band", "bh"])
    out += compact_parquet_dir(
        spark, f"{path}/fingerprints", order_by=["fingerprint"]
    )
    return out


def dedup_against_index(
    new_docs: DataFrame,
    path: str,
    text_col: str | None = None,
    corpus: DataFrame | None = None,
    threshold: float = 0.8,
    shingle_k: int | None = None,
    broadcast_max_rows: int | None = PROBE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and a persisted corpus
    index (write_minhash_index), without touching corpus text.

    Scale shape — the reason this exists: the index side NEVER shuffles
    and is never re-hashed. The new batch's banded signatures (bands
    rows per new doc — tiny for any sane increment) BROADCAST, and the
    index scan hash-joins against them in place; only matching index
    rows survive the scan. The broadcast is size-GATED, not assumed: a
    batch over ``broadcast_max_rows`` docs loses the hint and the join
    falls back to a shuffle (AQE can still pick broadcast from real
    stats) — increment ≪ corpus is the intended shape, but an oversized
    "increment" degrades to a slower plan instead of a forced-broadcast
    OOM. For batch-vs-batch at comparable sizes use minhash_dedup on
    the union.

    Returns (new_id, old_id) candidate pairs. With ``corpus`` supplied
    (a frame containing the OLD docs' id/text), candidates are
    jaccard-verified to (new_id, old_id, jaccard ≥ threshold) — the
    verify joins texts for candidate ids only (jaccard_verify's
    candidates-only discipline). Batch and corpus id domains must be
    disjoint. Within-batch duplicates are a separate concern: run
    minhash_dedup/minhash_clusters on the batch itself."""
    spark = new_docs.sparkSession
    m = _load_meta(spark, path)
    if shingle_k is not None and shingle_k != m["shingle_k"]:
        raise ValueError(
            f"index built with shingle_k={m['shingle_k']}, probe asked {shingle_k}"
        )
    id_col = m["id_col"]
    text_col = _index_text_col(m, text_col)
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, m["num_hashes"], m["shingle_k"]
    )
    new_banded = band_table(new_sigs, id_col, m["num_hashes"], m["bands"]).select(
        F.col(id_col).alias("_new_id"), "band", "bh"
    )
    idx = spark.read.parquet(f"{path}/bands")
    cands = (
        # the gate counts DOCS but broadcasts BANDED rows (bands× more):
        # the row ceiling was derived for ~4 bands per doc, so a
        # high-band index (band_table invites tuning upward) broadcast
        # bands/4× past the envelope — scale the doc ceiling by the
        # index's own bands value (review r14)
        idx.join(
            _probe_hint(
                new_banded,
                new_docs,
                max(1, broadcast_max_rows * 4 // max(int(m["bands"]), 1)),
            ),
            ["band", "bh"],
        )
        .filter(F.col(id_col) != F.col("_new_id"))
        .select(
            F.col("_new_id").alias("new_id"), F.col(id_col).alias("old_id")
        )
        .distinct()
    )
    if corpus is None:
        return cands
    both = corpus.select(F.col(id_col), F.col(text_col)).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col))
    )
    # materialize the candidate pairs ONCE via localCheckpoint —
    # deliberately NOT persist(): a persist here leaks a cache entry for
    # the probe-join fragment that Spark's cache manager then
    # substitutes (hint included) into LATER plans over the same index,
    # silently re-broadcasting what a caller gated off (the r12
    # rejection). A checkpoint breaks the lineage WITHOUT registering in
    # the cache manager, so nothing substitutes — and the verify side's
    # FOUR consumers (the count gate plus jaccard_verify's two union
    # arms and its pair join, which project different columns so
    # exchange reuse can't collapse them) previously re-scanned the
    # index and re-hashed the whole batch per consumer (review r14).
    from quackpipe_spark.operators.util import eager_barrier

    pairs = eager_barrier(
        cands.select(F.col("new_id").alias("a"), F.col("old_id").alias("b"))
    )
    n_pairs = pairs.count()
    verified = jaccard_verify(
        both, pairs, id_col, text_col, m["shingle_k"], threshold,
        pairs_count=n_pairs,
    )
    return verified.select(
        F.col("a").alias("new_id"), F.col("b").alias("old_id"), "jaccard"
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination detection (the GPT-3 recipe): flag corpus
    docs sharing ≥ ``min_shared`` k-gram shingles with any benchmark doc.

    Scale shape: the benchmark side is tiny by definition (an eval set),
    so its DISTINCT shingles broadcast; the corpus pays exactly one
    shingle pass (the same exchange-free explode as every dedup stage)
    and an aggregate — no join ever touches corpus×corpus or shuffles
    the exploded rows. Returns (id, n_shared) for flagged docs; the
    caller anti-joins it to decontaminate.

    k=8 (vs dedup's 3) follows the contamination literature: long grams
    make coincidental overlap vanish while verbatim leakage survives."""
    bench_shingles = (
        shingle_table(benchmark, id_col, text_col, shingle_k)
        .select("shingle")
        .distinct()
    )
    corpus_shingles = shingle_table(corpus, id_col, text_col, shingle_k)
    return (
        corpus_shingles.join(F.broadcast(bench_shingles), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _rebuild_in_order(
    kept: DataFrame, id_col: str, pos_col: str, val_col: str, sep: str
) -> DataFrame:
    """(id, _clean, _n_kept): reassemble kept (pos, value) fragments in
    original order — array_sort over collected (pos, value) structs per
    doc, never a global sort. Shared by line_dedup (lines) and
    strip_duplicate_passages (tokens) so the two rebuild recipes cannot
    drift."""
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, val_col))),
                lambda s: s[val_col],
            ),
            sep,
        ).alias("_clean"),
        F.count("*").alias("_n_kept"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_dup_docs: int = 2,
    min_line_chars: int = 8,
) -> DataFrame:
    """Cross-document line-level dedup (the MassiveText/RefinedWeb recipe):
    a line whose trimmed form appears in ≥ ``min_dup_docs`` DISTINCT docs
    is boilerplate (nav bars, cookie banners, license headers) and is
    removed from EVERY doc. Lines shorter than ``min_line_chars`` after
    trim are never removed — ultra-short lines ("", "---", "1.") are
    legitimately common and deleting them mangles formatting.

    Returns ``docs`` with ``text_col`` rewritten plus (n_lines,
    n_removed) per doc. Doc identity and every other column survive;
    a doc whose every line is boilerplate keeps an empty string.

    Scale shape: the line relation shuffles twice on the line key — a
    per-(doc,key) DISTINCT feeding a key-count (both with map-side
    partial aggregation) — then once more to join the dup-key set back,
    and once on id to reassemble. The dup-key set itself is tiny (only
    keys crossing the threshold survive the HAVING), so AQE typically
    demotes that join to broadcast at real scale; the count table never
    contains singleton lines after the filter. Line ORDER is preserved
    via posexplode → array_sort on (pos, line) — no global sort."""
    from quackpipe_spark.operators.util import sized_parts

    lines = (
        # data-sized id exchange (see shingle_table): the clustering is
        # still established for the id-keyed reassembly, but a toy corpus
        # is not fanned over `parallelism` tasks per stage
        docs.repartition(sized_parts(docs, 1 << 20), F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn("k", F.md5(F.trim(F.col("line"))))
        .withColumn(
            "eligible", F.length(F.trim(F.col("line"))) >= min_line_chars
        )
    )
    dup_keys = (
        lines.filter("eligible")
        .select(id_col, "k")
        .distinct()
        .groupBy("k")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_dup_docs)
        .select("k")
    )
    kept = lines.join(dup_keys.withColumn("_dup", F.lit(True)), "k", "left").filter(
        (~F.col("eligible")) | F.col("_dup").isNull()
    )
    rebuilt = _rebuild_in_order(kept, id_col, "pos", "line", "\n")
    # NULL text must count as 0 lines: size(split(NULL)) is -1 under
    # non-ANSI legacy sizeOfNull semantics, not NULL, so coalesce alone
    # can't catch it
    n_lines = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(F.split(F.col(text_col), "\n"))
    )
    # MERGE hint: rebuilt holds the full cleaned corpus TEXT per doc and
    # sits on an exchange-free agg (id-partitioning reuse), so AQE has
    # no runtime stats and the static estimate had Catalyst BROADCAST
    # the whole corpus to the driver — under the 1 GiB ceiling at the
    # tested scales, the same maxResultSize death as jaccard_verify one
    # scale up (r11 100× plan audit). Sort-merge spills; text payloads
    # just flow through the sorters.
    return (
        docs.join(rebuilt.hint("merge"), id_col, "left")
        .withColumn("n_lines", n_lines)
        .withColumn(
            "n_removed", F.col("n_lines") - F.coalesce("_n_kept", F.lit(0))
        )
        # NULL text stays NULL: a NULL-text doc emits no line rows, so
        # the bare coalesce rewrote it to '' — and every formerly-NULL
        # doc then collapsed into ONE md5('') cluster downstream in
        # exact_dedup, whose survivors rule would delete N−1 docs of
        # unknown content (the exact r12 NULL-collapse fix, re-broken
        # one operator upstream; review r14, execution-confirmed)
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce("_clean", F.lit(""))),
        )
        .drop("_clean", "_n_kept")
    )


def duplicate_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_dup_docs: int = 2,
) -> DataFrame:
    """Exact duplicate-PASSAGE detection — the substring-granularity
    dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", public), approximated with positioned
    k-token gram fingerprints instead of a suffix array (the standard
    distributed formulation: a verbatim shared passage of length ≥ k
    tokens is exactly a run of shared k-grams). Every k-gram occurring
    in ≥ ``min_dup_docs`` DISTINCT docs is flagged at its position, and
    overlapping flagged grams merge into maximal spans.

    Returns (id, span_start, span_end, n_grams): 0-based token
    positions, end-exclusive, over the *normalized* token stream
    (tokenize = trim+lower+whitespace-split — the same domain every
    other dedup stage shares).

    Scale shape: gram emission is linear in corpus tokens (×k string
    amplification inside ONE exchange-free codegen stage — the explicit
    suffix-array trade-off: ~k× more bytes through the gram shuffle in
    exchange for embarrassing parallelism and no global sort). The
    cross-doc flagging is WINDOW state over one gram-partitioned
    exchange — max(dense_rank by doc) ≡ count(distinct doc) — so the
    gram table has a single consumer and the k-wide md5 emission runs
    exactly once per action (plan-pinned), with no persist (a cached
    copy of the token-exploded table would pin the pipeline's largest
    relation in executor memory and make the operator eager) and no
    OOM cliff on white-hot grams (the window operator spills oversized
    partitions). Span merging is a per-doc window over flagged
    positions (equal-length intervals ⇒ pairwise adjacency check is
    exact — no running-max needed). Fully lazy: building the plan runs
    no jobs."""
    if k < 2:
        raise ValueError("passage gram size k must be >= 2")
    from quackpipe_spark.operators.util import sized_parts

    base = (
        # data-sized id exchange (see shingle_table)
        docs.repartition(sized_parts(docs, 1 << 20), F.col(id_col))
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= k)
    )
    grams = gram_array(F.col("_toks"), k, hash_grams=True)
    pos_grams = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "g")
    )
    # distinct-doc count per gram as WINDOW state over one g-partition:
    # max(dense_rank by id) ≡ count(distinct id). This keeps the gram
    # table single-consumer — an aggregate+join-back shape makes the
    # k-wide md5 emission run once PER consumer (Catalyst prunes the
    # branches differently, so exchange reuse cannot fire), and a
    # persist would pin the pipeline's largest relation in executor
    # memory. Spark's window operator SPILLS oversized partitions
    # (a white-hot boilerplate gram degrades to disk, never OOM).
    wg = Window.partitionBy("g")
    flagged = (
        pos_grams.withColumn(
            "_dr", F.dense_rank().over(wg.orderBy(id_col))
        )
        .withColumn("_n_docs", F.max("_dr").over(wg))
        .filter(F.col("_n_docs") >= min_dup_docs)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    # same-length intervals: a gram extends the span iff it starts within
    # the previous gram's [pos, pos+k) window
    new_span = (
        F.coalesce(
            (F.col("pos") > F.lag("pos").over(w) + k).cast("int"), F.lit(1)
        )
    )
    spanned = flagged.withColumn(
        "_span",
        F.sum(new_span).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        spanned.groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .drop("_span")
    )


def strip_duplicate_passages(
    docs: DataFrame,
    spans: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_dup_docs: int = 2,
) -> DataFrame:
    """Remove every duplicated passage (see :func:`duplicate_passages`)
    from every doc. Returns ``docs`` with ``text_col`` rewritten as the
    NORMALIZED token stream (trim+lower+single-space) minus in-span
    tokens — substring dedup operates on the tokenized corpus, which is
    what a training pipeline ships — plus (n_tokens, n_removed_tokens).
    Every other column survives, mirroring line_dedup.

    The span join is an equi-join on id plus a range predicate; spans
    per doc are few, so the post-join blowup is bounded by the flagged
    token count, not tokens × spans."""
    if spans is None:
        spans = duplicate_passages(docs, id_col, text_col, k, min_dup_docs)
    toks = (
        docs.select(
            F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
        )
        .select(F.col(id_col), F.posexplode("_toks").alias("pos", "tok"))
    )
    sp = spans.select(
        F.col(id_col).alias("_sid"), "span_start", "span_end"
    )
    kept = toks.join(
        sp,
        on=(
            (toks[id_col] == sp["_sid"])
            & (toks["pos"] >= sp["span_start"])
            & (toks["pos"] < sp["span_end"])
        ),
        how="left_anti",
    )
    rebuilt = _rebuild_in_order(kept, id_col, "pos", "tok", " ")
    # size(NULL) is -1 under this engine's ANSI-off legacy sizeOfNull (the
    # line_dedup lesson at _line_table) — coalesce alone cannot fix it
    n_tokens = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(tokenize(F.col(text_col)))
    )
    # MERGE hint: same corpus-text-broadcast hazard as line_dedup's
    # reassembly join (see there) — rebuilt is exchange-free, so only
    # the static estimate guards the broadcast choice.
    return (
        docs.join(rebuilt.hint("merge"), id_col, "left")
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "n_removed_tokens",
            F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)),
        )
        # NULL text stays NULL (the same r14 fix as line_dedup's
        # reassembly — see there for the exact_dedup NULL-collapse
        # consequence of the bare coalesce)
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.coalesce("_clean", F.lit(""))),
        )
        .drop("_clean", "_n_kept")
    )


# --- simhash ---------------------------------------------------------------

def _token_hash32(token: Column) -> Column:
    """32-bit int from the first 8 md5 hex chars of the token (portable:
    conv() here, ('0x'||…)::BIGINT in the oracle)."""
    return F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")


def _token_hash64(token: Column) -> Column:
    """64-bit token hash from the first 16 md5 hex chars, assembled from
    two 32-bit halves (conv() yields a decimal STRING; a single 16-hex
    conv can exceed the signed-long cast). Bit 63 lands in the sign bit
    — downstream shifts are arithmetic and always mask, so the sign is
    just another signature bit."""
    hi = F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(token), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Per-doc SimHash: bit j of the signature is the sign of the sum of
    (2·bit_j(token_hash)−1) over tokens.

    The signature is per-row state, so it needs NO explode and NO shuffle:
    one fold over tokenize(text) with a ``bits``-wide integer accumulator
    (the hyperplane_buckets pattern), then the sign/weight reduction —
    all inside one whole-stage-codegen projection. (The previous
    explode+groupBy formulation paid a full shuffle of every token row for
    per-doc state; integer sums are order-independent, so the fold is
    value-identical to the oracle's grouped conditional sums.) The fold
    output feeds the sign reduction through a single zip_with reference —
    NOT an intermediate column fanned into ``bits`` element_at projections,
    which projection collapse would inline into ``bits`` copies of the
    whole fold (the shingle_table lesson)."""
    from quackpipe_spark.operators.util import fan_out

    if bits == 32:
        # gate/oracle-parity option: cheaper fold, but 16-bit bands at
        # the minimal hamming-1 split — collision term n²/2¹⁶ goes
        # quadratic past ~10M docs (PLAN_AUDIT_r12). Library default is
        # 64 (r13, VERDICT r12 #2): 32-bit bands, collision term n²/2³².
        hash_fn = _token_hash32
    elif bits == 64:
        hash_fn = _token_hash64
    else:
        raise ValueError(f"simhash supports bits=32 or 64, got {bits}")
    hashes = F.transform(tokenize(F.col(text_col)), hash_fn)
    sums = F.aggregate(
        hashes,
        F.array(*[F.lit(0)] * bits),
        lambda acc, h: F.array(
            *[
                F.element_at(acc, j + 1)
                + F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1)
                for j in range(bits)
            ]
        ),
    )
    # weights via shiftleft (a Python ``1 << 63`` literal overflows the
    # long lit) and a bitwise-OR fold (exact for distinct bits, and —
    # unlike ``+`` — can never trip an ANSI overflow check when bit 63
    # lands in the sign position); both are value-identical to the old
    # lit/+ form for bits=32, so 32-bit signatures stay oracle-stable
    sig = F.aggregate(
        F.zip_with(
            sums,
            F.array(*[F.shiftleft(F.lit(1).cast("long"), j) for j in range(bits)]),
            lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    # NULL-text parity with the grouped form (and the oracle's unnest):
    # explode emitted no row for a NULL token array, so the fold must not
    # emit a NULL-signature row either
    return (
        # 64 KB/task, the smallest divisor in the tree: the fold is
        # ``bits`` interpreted array-adds per token (~30× the per-byte
        # cost of a tokenize-only pipeline) — an in-session sweep at
        # sf0.1 measured 1 task 3.0 s vs 8 tasks 2.5 s on a 0.6 MB
        # corpus, so this path keeps fanning out far below the 1 MB/task
        # the lighter pipelines use
        fan_out(docs, bytes_per_task=64 << 10)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), sig.alias("simhash"))
    )


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 6,
    bands: int | str = "auto",
) -> DataFrame:
    """Hamming-near pairs via banding: two signatures within hamming ≤ h
    share at least one of ``bands`` slices whenever the differing bits
    concentrate — candidates join on (band, slice value), verified by
    bit_count(xor). (Banding is a recall heuristic, same as the reference
    LSH trade-off; the verify step keeps precision exact.)

    ``bands="auto"`` (default) picks the smallest divisor of ``bits``
    strictly greater than ``max_hamming`` — the minimal EXACT-recall
    pigeonhole split at the widest possible bands. With the 64-bit
    default and max_hamming ≤ 1 that is 2×32-bit bands (collision term
    n²/2³², negligible past 100M docs); max_hamming up to 7 resolves to
    8×8-bit bands, which is exact but collision-heavy — at large corpus
    × large tolerance, cap the tolerance or pass bands explicitly and
    accept heuristic recall.

    A pair matching in several bands is emitted once by keeping only its
    FIRST matching band: both simhashes ride through the bucket rows, so
    "an earlier band also matches" is a plain column predicate — dedup
    becomes a stateless filter instead of a DISTINCT shuffle over the
    candidate pair set.

    Candidates come from ONE groupBy over the banded table — each
    (band, slice-value) bucket collects its members as a sorted
    (id, simhash) array and emits the a < b pairs from the array — not
    from a self-join. The self-join consumed the banded table twice,
    and the signature fold below it is exchange-free, so nothing was
    reusable between the sides: the whole per-row fold ran once per
    side, which forced a persist() + blocking count() barrier here (and
    pinned a corpus-sized signature cache at 100 TB). The grouped form
    consumes the fold exactly once, fused into the single candidate
    job, so the barrier and the cache are deleted and banded rows cross
    the wire once instead of twice.

    Scale: bucket collisions (and therefore verify work) grow as
    n² / 2^(bits/bands) — band WIDTH is the selectivity lever. When
    bands > max_hamming the pigeonhole recall is EXACT, so the minimal
    split bands = max_hamming + 1 is strictly better at scale (same
    result set, widest bands); pass it explicitly. With bands ≤
    max_hamming recall is the documented heuristic and narrowing bands
    changes the result set — that trade stays caller-chosen. For
    corpora past ~10M docs, grow ``bits`` (64-bit signatures) so the
    quadratic term stays negligible."""
    if bands == "auto":
        if not 0 <= max_hamming < bits:
            raise ValueError(
                f"max_hamming must be in [0, {bits}), got {max_hamming}"
            )
        bands = next(b for b in range(max_hamming + 1, bits + 1) if bits % b == 0)
    if not isinstance(bands, int) or bands < 1 or bits % bands != 0:
        raise ValueError(
            f"bands must be 'auto' or an int that divides the signature "
            f"width: got bits={bits}, bands={bands}"
        )
    width = bits // bands
    mask = (1 << width) - 1

    def band_of(col: Column, b: int) -> Column:
        if width == 64:
            # bands=1 on 64-bit signatures: the whole signature IS the
            # band — a (1<<64)-1 mask literal overflows the signed long
            return col
        return F.shiftright(col, b * width).bitwiseAND(mask)

    band_vals = F.array(*[band_of(F.col("simhash"), b) for b in range(bands)])
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.posexplode(band_vals).alias("band", "bv")
    )
    # one bucket = one (band, bv) group; members sorted by id (struct
    # comparison orders by the leading field, ids are unique), so pair
    # emission from the array gives exactly the a < b pairs of the old
    # self-join formulation
    grouped = (
        banded.groupBy("band", "bv")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    earlier_match = F.lit(False)  # bands=1: nothing earlier can match
    for b in range(bands - 1):
        cond = (F.col("band") > b) & (
            band_of(F.col("sa"), b) == band_of(F.col("sb"), b)
        )
        earlier_match = earlier_match | cond
    # chunked pair emission (see lsh_candidates): posexplode the member
    # index first, slice the tail after the explode — every physical row
    # is O(m), never the single m·(m-1)/2-struct array of the flattened
    # form, so a degenerate (band, bv) bucket streams its pairs instead
    # of materializing them in one aggregation buffer (guide §2.5 skew)
    return (
        grouped.select(
            F.col("band"), F.col("ms"), F.posexplode("ms").alias("i", "x")
        )
        .select(
            "band",
            F.col("x.id").alias("a"),
            F.col("x.simhash").alias("sa"),
            F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("y"),
        )
        .select("band", "a", F.col("y.id").alias("b"), "sa", F.col("y.simhash").alias("sb"))
        .filter(~earlier_match)
        .select(
            "a",
            "b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# corpus sizes up to this many docs keep the cheaper 32-bit signature
# (16-bit bands at the minimal hamming-1 split → expected cross-collision
# candidates ≈ n/2¹⁷ per doc ≈ 15 at the threshold); past it the n²/2¹⁶
# term approaches 4× growth per corpus doubling (PLAN_AUDIT_r12:60-65),
# so the probe flips to 64-bit signatures (32-bit bands, n²/2³²).
SIMHASH_AUTO_32_MAX = 2_000_000

# last width bits="auto" resolved to in this process — a growing corpus
# that crosses SIMHASH_AUTO_32_MAX flips the signature width, which
# CHANGES THE METRIC SPACE (hamming is width-relative), so the flip is
# logged loudly (VERDICT r13 #6) rather than silently re-ranking what
# counts as "near". Lock-guarded: two concurrent auto calls straddling
# the threshold could otherwise both read the stale value and neither
# would warn — the exact silence the warning exists to prevent.
_LAST_AUTO_BITS: int | None = None
_AUTO_BITS_LOCK = threading.Lock()


def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 1,
    bits: int | str = "auto",
    bands: int | str = "auto",
) -> DataFrame:
    """One-call simhash near-dup: signature fold + banded pairs with
    scale-safe width selection (VERDICT r12 #2).

    ``bits="auto"`` probes the corpus size (one count over the already
    pruned/projected docs scan — linear, no shuffle) and picks 32-bit
    signatures up to SIMHASH_AUTO_32_MAX docs, 64-bit beyond, so the
    operator's default can't be bitten by the 16-bit-band collision
    knee past ~10M docs. Note the hamming metric is width-relative:
    the two widths are separate similarity spaces, not interchangeable
    result sets — pin ``bits`` explicitly for reproducible thresholds
    across growing corpora. When consecutive auto calls in one process
    resolve to DIFFERENT widths (a corpus crossing SIMHASH_AUTO_32_MAX),
    a warning is logged (see _LAST_AUTO_BITS): the flip is the intended
    scale behavior, but downstream thresholds tuned on the old width no
    longer mean the same thing.
    """
    global _LAST_AUTO_BITS
    if bits == "auto":
        n = docs.count()
        bits = 32 if n <= SIMHASH_AUTO_32_MAX else 64
        with _AUTO_BITS_LOCK:
            prev, _LAST_AUTO_BITS = _LAST_AUTO_BITS, bits
        if prev is not None and prev != bits:
            logging.getLogger(__name__).warning(
                "simhash_dedup bits='auto' resolved to %d-bit signatures "
                "(corpus n=%d) but the previous auto call used %d-bit: "
                "hamming distance is width-relative, so max_hamming=%d now "
                "selects a DIFFERENT notion of 'near' — pin bits explicitly "
                "for threshold stability across corpus growth",
                bits,
                n,
                prev,
                max_hamming,
            )
    sigs = simhash(docs, id_col, text_col, bits=bits)
    return simhash_near_pairs(
        sigs, id_col, bits=bits, max_hamming=max_hamming, bands=bands
    )
