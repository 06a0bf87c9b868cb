"""Custom stateful streaming operator: per-key running aggregates via
applyInPandasWithState (SURVEY §2B streaming extensions; north-star
"applyInPandasWithState for custom stateful operators").

The reference has no stateful streaming at all (its "streaming" is a
buffered micro-batch flush); this is the Spark-native extension point a
time-series engine needs for alerting/monotonic counters: arbitrary
Python state per key, checkpointed by the engine, with timeout-driven
eviction available for sessionization-style logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n LONG, total DOUBLE"


def running_totals(events: DataFrame, key_col: str = "user_id", value_col: str = "value") -> DataFrame:
    """Streaming per-key running (count, sum): each micro-batch emits the
    key's lifetime totals so far. State = one (n, total) tuple per key —
    constant size, safe at any key cardinality the state store can hold.
    The output key column keeps the input's name AND type (a hardcoded
    schema would crash at Arrow conversion for any non-long key).
    """
    key_type = dict(events.dtypes)[key_col]
    output_schema = f"{key_col} {key_type}, n LONG, total DOUBLE, batch_rows LONG"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        batch_rows = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
            # count NON-NULL values, matching both the skipna sum below
            # and Spark's own count(value)/sum(value) pair — counting
            # NULL rows into n while sum skips them would skew any
            # derived mean
            n += int(pdf[value_col].notna().sum())
            total += float(pdf[value_col].sum())
        state.update((n, total))
        import pandas as pd

        # emit the state's FULL precision: rounding here while state
        # accumulates unrounded would quantize every emitted lifetime
        # total (and any downstream total/n mean) relative to Spark's own
        # sum(value) — the docstring promises the lifetime totals, not a
        # display rounding (review r14)
        yield pd.DataFrame(
            [(key[0], n, total, batch_rows)],
            columns=[key_col, "n", "total", "batch_rows"],
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _id_codec(docs: DataFrame, id_col: str):
    """(id_expr, sql_type, batch_min_of, batch_ids_of) for integral or
    string doc ids — the NULL-safe id plumbing shared by the stateful
    dedup operators. See streaming_exact_dedup's docstring for why
    integral NULLs ride an int64-max sentinel (a None makes pandas
    coerce the column to float64, where large ids round). batch_ids_of
    decodes a chunk's ids to python values with NULLs dropped."""
    import pandas as pd  # noqa: F401  (documents the pdf["_id"] contract)
    from pyspark.sql import functions as F

    id_type = dict(docs.dtypes)[id_col]
    # .tolist() + plain python min/comprehension instead of Series.min()/
    # per-element int(): the pandas reductions cost ~25-30us per call and
    # these run once per GROUP per micro-batch (thousands of calls per
    # batch in applyInPandasWithState, where per-group python overhead IS
    # the batch cost — r16 streaming bench); tolist on an int64 column
    # yields python ints (values identical), on an object column yields
    # the stored str/None unchanged.
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        _NULL_ID = (1 << 63) - 1
        id_expr = F.coalesce(F.col(id_col).cast("long"), F.lit(_NULL_ID))

        def batch_min_of(pdf):
            m = min(pdf["_id"].tolist(), default=_NULL_ID)
            return None if m == _NULL_ID else m

        def batch_ids_of(pdf):
            return [v for v in pdf["_id"].tolist() if v != _NULL_ID]

        return id_expr, "LONG", batch_min_of, batch_ids_of
    if id_type == "string":
        # `v == v` mirrors the dropna() this replaces (also drops a float
        # NaN, which a plain None check would let through to str min)
        def batch_min_of(pdf):
            vals = [v for v in pdf["_id"].tolist() if v is not None and v == v]
            return min(vals) if vals else None

        def batch_ids_of(pdf):
            return [v for v in pdf["_id"].tolist() if v is not None and v == v]

        return F.col(id_col), "STRING", batch_min_of, batch_ids_of
    raise TypeError(
        f"stateful dedup supports integral or string ids, got {id_type}"
        " — a silent cast would NULL every survivor"
    )


def streaming_exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming exact dedup: first-seen-wins per content fingerprint,
    ACROSS micro-batches — the incremental form of
    ``operators.dedup.exact_dedup`` for a continuously-ingesting corpus.

    Keyed by md5(text); state per fingerprint = (keep_id, n_copies) —
    constant size, so the state store scales with DISTINCT content, not
    stream volume. Each batch emits one row per touched fingerprint with
    ``is_new`` marking first sightings (the survivors a downstream
    training-shard writer appends) and the updated lifetime copy count
    (the same (fingerprint, keep_id, n_copies) triple the batch operator
    produces). Survivor choice matches the batch semantics: the smallest
    id seen so far — so replaying the same corpus through either path
    keeps identical survivors (determinism contract, dedup.py module
    docstring).

    Scale: the groupBy shuffles one short row per incoming doc (id +
    fingerprint — the text is dropped before the shuffle), and Spark's
    HDFS-backed state store handles fingerprint-cardinality state the
    same way streaming dropDuplicates does; for bounded-retention
    pipelines add a watermark upstream and an EventTimeTimeout eviction.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    # NULL-id handling rationale: integral ids ride an int64-max sentinel
    # (one None makes pandas coerce _id to float64, where ids above 2^53
    # round and the recorded survivor could be an id that exists in no
    # document); string ids compare lexicographically in BOTH the batch
    # operator (Spark min) and python str min, and pandas object columns
    # hold None natively. An id legitimately equal to 2^63-1 would be
    # indistinguishable from NULL; accepted — not a plausible doc id.
    id_expr, keep_type, batch_min_of, _ = _id_codec(docs, id_col)

    # NULL-text docs are EXCLUDED like the batch operator (dedup.py:221,
    # review r12): their content is unknown, not identical — md5(NULL) is
    # NULL, so without the filter every NULL-text doc in the stream would
    # collapse under ONE NULL-fingerprint state key whose is_new/survivor
    # output marks unknown-content docs as duplicates of each other,
    # breaking the stream≡batch determinism contract the docstring
    # promises (review r14)
    keyed = docs.filter(F.col(text_col).isNotNull()).select(
        F.md5(F.col(text_col)).alias("fingerprint"), id_expr.alias("_id")
    )
    state_schema = f"keep_id {keep_type}, n_copies LONG"
    output_schema = (
        f"fingerprint STRING, keep_id {keep_type}, n_copies LONG, is_new BOOLEAN"
    )

    # one output row per touched fingerprint per micro-batch: the frame
    # construction runs once per GROUP, so build it as template.copy() +
    # 4 iat stores (~67us) instead of a fresh DataFrame from a tuple
    # (~230us of dtype inference) — per-group python overhead is the
    # micro-batch cost (r16 streaming bench). dtype=object keeps the
    # None-keep_id row (all ids in the group were NULL-sentinel) exact:
    # the Arrow writer casts each cell to the declared output type, while
    # an int64 template cell could not hold None at all.
    _out_tmpl = pd.DataFrame(
        [(None, None, 0, False)],
        columns=["fingerprint", "keep_id", "n_copies", "is_new"],
        dtype=object,
    )

    def update(key, pdfs, state: GroupState):
        keep_id, n_copies = state.get if state.exists else (None, 0)
        is_new = not state.exists
        for pdf in pdfs:
            n_copies += len(pdf)
            batch_min = batch_min_of(pdf)
            if batch_min is not None:
                keep_id = batch_min if keep_id is None else min(keep_id, batch_min)
        state.update((keep_id, n_copies))
        out = _out_tmpl.copy()
        out.iat[0, 0] = key[0]
        out.iat[0, 1] = keep_id
        out.iat[0, 2] = n_copies
        out.iat[0, 3] = is_new
        yield out

    return keyed.groupBy("fingerprint").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    sig_partitions: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup flagging across micro-batches: the incremental
    form of the batch minhash→LSH candidate stage for a continuously
    ingesting corpus. Each doc's LSH band buckets are keyed state; a doc
    sharing a bucket with a SMALLER id — seen in any earlier batch or
    this one — is flagged against the bucket's canonical (minimum) id.

    Emits (doc_id, partner_id, band, band_hash) rows; ``distinct
    doc_id`` is the flagged set. Arrival-order independence: when a new
    bucket minimum arrives LATE, the operator emits a correction row
    flagging the dethroned keeper, so the lifetime flagged set equals
    the batch rule "every bucket member except its minimum" — which is
    exactly the b-sides of ``dedup.lsh_candidates`` pairs. Replaying any
    permutation of the corpus converges to the identical flagged set
    (tested). Contract precision: ONLY the flagged doc_id set is
    order-invariant — partner_id is the bucket minimum AT EMISSION TIME
    and earlier rows are not re-emitted when a later minimum dethrones
    it, so partner_id must not be used as a cluster-canonical id
    (a dethroned partner is itself flagged). For canonical survivors,
    run the batch closure (dedup.minhash_clusters) over the flagged
    subset. Precision follows the batch pipeline's contract: these are
    CANDIDATES (band-collision recall); run ``dedup.jaccard_verify``
    offline over the flagged subset for exact-jaccard precision.

    Signature recipe is bit-identical to the batch operator
    (minhash_i = min md5('{i}|'+shingle); band hash = md5 of the
    concatenated hex minima) but computed in ONE Arrow-batched
    mapInPandas pass, because a streaming batch can lean on neither the
    batch plan's pre-partitioned explode+groupBy nor on inlined SQL
    folds (ArrayTransform is CodegenFallback and excluded from
    subexpression elimination, so a 16-sig expression tree re-tokenizes
    and re-shingles EVERY doc ~17× — the exact trap shingle_table's
    docstring documents; hashlib in a pandas batch does each step
    once). The regex uses re.ASCII so \\s matches Java's default \\s —
    engine-identical tokenization (parity is proven end-to-end by the
    stream≡batch tests). State per bucket is (keep_id, n_members) —
    constant size, so the state store scales with DISTINCT buckets
    (≈ bands × distinct near-dup classes), not stream volume; for
    bounded retention add a watermark upstream and EventTimeTimeout
    eviction.

    ``sig_partitions`` (guide §2.2 — partition count follows data
    volume): the signature pass runs on the SOURCE's splits, and a
    file/kafka micro-batch usually arrives as ONE split — at ~0.2 ms of
    md5 per doc that single lane is 20 s of serial hashing for a
    100k-doc production batch. Setting sig_partitions adds a round-robin
    exchange before the signature pass so the hashing fans out; the
    flagged output is bit-identical (each (band, bucket) group receives
    the same row SET through the state shuffle regardless of upstream
    partitioning, and the per-bucket update is order-free — tested).
    Streaming plans are static, so the operator cannot size this to the
    batch at runtime (no AQE in micro-batch plans): the default None
    keeps tiny/bench batches free of the extra exchange; size it to
    expected_batch_rows x 0.2ms / target_task_seconds on real feeds
    (r16 measured, BENCH_STREAM_r16b.json: 20k-row batches 5.13 ->
    2.66 s/batch (-48%) at sig_partitions=16 on 32 cores; 2k-row
    batches are a wash — the sig pass is too small a share there)."""
    if bands < 1 or num_hashes % bands != 0:
        # same recipe validation as dedup.band_table: truncation changes
        # the recall curve silently, and bands > num_hashes degenerates
        # every band hash to md5('') — ONE global bucket, so every doc
        # but the minimum gets flagged as a near-dup with no error
        raise ValueError(
            f"bands must divide num_hashes: got num_hashes={num_hashes}, "
            f"bands={bands}"
        )
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    id_expr, keep_type, _, batch_ids_of = _id_codec(docs, id_col)
    rows = num_hashes // bands
    ws = re.compile(r"\s+", re.ASCII)
    prefixes = [f"{i}|".encode() for i in range(num_hashes)]

    def sig_bands(batches):
        md5 = hashlib.md5
        # per-task init (guide §4): one md5 object per prefix, pre-fed
        # with the prefix bytes — each (prefix, shingle) hash is then a
        # copy()+update() instead of re-hashing the prefix. Built here
        # (not in the closure) because hash objects don't pickle.
        pre = [md5(p) for p in prefixes]
        for pdf in batches:
            out_id, out_band, out_bh = [], [], []
            for _id, text in zip(pdf["_id"].tolist(), pdf["_text"].tolist()):
                if text is None:
                    continue
                # mirror the batch tokenize EXACTLY — split(trim(lower)):
                # Spark trim strips 0x20 spaces only (python .strip()
                # also eats \t/\n, losing the trailing empty token Spark
                # keeps for 'foo\n' → different shingles → a near-dup
                # flagged in batch but not in stream); re.ASCII \s+
                # matches Java's \s, and re.split keeps edge empties
                # like Spark's limit=-1
                toks = ws.split(str(text).lower().strip(" "))
                if len(toks) < shingle_k:
                    continue
                sh = {
                    " ".join(toks[j : j + shingle_k])
                    for j in range(len(toks) - shingle_k + 1)
                }
                enc = [s.encode() for s in sh]
                # min over digest() BYTES == min over hexdigest(): hex
                # encodes each byte to two chars from the ascending
                # alphabet 0-9a-f, so byte order and hex order agree for
                # the equal-length md5 digests. Taking the min on bytes
                # and hex-encoding only the 16 winners skips ~|shingles|
                # x num_hashes hexdigest conversions per doc (r16: -27%
                # on this kernel, asserted output-identical).
                sigs = []
                for h0 in pre:
                    best = None
                    for e in enc:
                        h = h0.copy()
                        h.update(e)
                        d = h.digest()
                        if best is None or d < best:
                            best = d
                    sigs.append(best.hex())
                for b in range(bands):
                    bh = md5(
                        "".join(sigs[b * rows : (b + 1) * rows]).encode()
                    ).hexdigest()
                    out_id.append(_id)
                    out_band.append(b)
                    out_bh.append(bh)
            if out_id:  # zero frames for an all-short/None chunk — Spark
                yield pd.DataFrame(  # supplies the typed empty result
                    {"_id": out_id, "band": out_band, "bh": out_bh}
                )

    # NULL-id docs can never be flagged or become keepers (batch_ids_of
    # drops them after the shuffle) — filter them BEFORE shingling so
    # they don't cost bands× rows of hashing/shuffle and permanent
    # state-store entries for buckets with no usable member
    narrowed = docs.filter(F.col(id_col).isNotNull()).select(
        id_expr.alias("_id"), F.col(text_col).alias("_text")
    )
    if sig_partitions is not None:
        if sig_partitions < 1:
            raise ValueError(
                f"sig_partitions must be >= 1, got {sig_partitions}"
            )
        # fan the md5-heavy signature pass out BEFORE hashing (docstring;
        # the exchange ships only the pruned id+text columns)
        narrowed = narrowed.repartition(sig_partitions)
    keyed = narrowed.mapInPandas(
        sig_bands, schema=f"_id {keep_type}, band INT, bh STRING"
    )

    output_schema = (
        f"doc_id {keep_type}, partner_id {keep_type}, band INT, band_hash STRING"
    )
    state_schema = f"keep_id {keep_type}, n_members LONG"

    def update(key, pdfs, state: GroupState):
        old_keep, n = state.get if state.exists else (None, 0)
        ids = []
        for pdf in pdfs:
            n += len(pdf)
            ids.extend(batch_ids_of(pdf))
        known = ids + ([old_keep] if old_keep is not None else [])
        if not known:
            state.update((old_keep, n))
            return
        new_keep = min(known)
        out = {x for x in ids if x != new_keep}
        if old_keep is not None and old_keep != new_keep:
            out.add(old_keep)  # correction: dethroned keeper
        flagged = sorted(out)
        state.update((new_keep, n))
        if flagged:
            yield pd.DataFrame(
                {
                    "doc_id": flagged,
                    "partner_id": [new_keep] * len(flagged),
                    "band": [int(key[0])] * len(flagged),
                    "band_hash": [key[1]] * len(flagged),
                }
            )

    return keyed.groupBy("band", "bh").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def index_probe_writer(
    index_path: str,
    out_path: str,
    text_col: str | None = None,
    exact: bool = False,
):
    """foreachBatch handler probing each micro-batch against a PERSISTED
    minhash index (dedup.write_minhash_index) and appending the flagged
    (new_id, old_id) pairs to ``out_path`` parquet — streaming dedup of
    an ingest stream against the standing corpus.

    Deliberately foreachBatch, NOT a native stream-static join: inside
    foreachBatch the micro-batch is a bounded DataFrame, so the batch
    probe's plan applies unchanged — the batch's banded signatures
    BROADCAST against the index scan and the index never shuffles. A
    stream-static equi-join cannot make the unbounded side the broadcast
    build side, so at corpus scale it would re-shuffle the INDEX once
    per micro-batch. ``exact=True`` probes text fingerprints instead of
    LSH bands (verbatim duplicates only).

    Usage::

        stream.writeStream.foreachBatch(
            index_probe_writer(idx, flags_dir)
        ).option("checkpointLocation", ckpt).start()

    Exactly-once caveat: parquet append in foreachBatch replays on
    recovery; dedupe flags downstream by (new_id, old_id) or use batch
    epoch subdirectories keyed on batch_id for idempotent sinks."""
    from quackpipe_spark.operators.dedup import (
        dedup_against_index,
        exact_dups_against_index,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # idle trigger: skip the meta read, probe job, and
            # the zero-row parquet append it would commit
        probe = exact_dups_against_index if exact else dedup_against_index
        flags = probe(batch_df, index_path, text_col=text_col)
        flags.select("new_id", "old_id").write.mode("append").parquet(out_path)

    return handle


def postings_append_writer(
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_over_files: int | None = 64,
    replay_safe: bool = True,
):
    """foreachBatch handler that incrementally indexes an ingest stream
    into a standing FTS postings index (fts.write_postings layout) —
    the search-side twin of index_probe_writer: each micro-batch pays
    one tokenize/explode pass and an O(batch) stats update; the standing
    index is never rebuilt, and bucket dirs auto-compact past
    ``compact_over_files``.

    foreachBatch (not a streaming aggregation) for the same reason as
    the probe writer: inside it the micro-batch is a bounded DataFrame,
    so the batch append plan — including the incremental stats
    read-modify-write, which has no streaming equivalent — applies
    unchanged. The stats row makes this handler the index's single
    writer by contract: one stream per index.

    Replay idempotence (r12): each micro-batch appends under
    ``write_id=f"b{batch_id}"``, which commits with the batch
    (plans.journal), so a replayed batch is a NO-OP — a crash between the
    parquet append and the checkpoint commit previously re-appended the
    identical batch on restart, permanently double-counting tf/df/N/avgdl
    (dropDuplicates upstream could not prevent it: its state also rolls
    back to the last commit and re-emits the same rows). The protocol
    needs a posix-rename filesystem: on an object-store index path
    append_postings raises at the first batch rather than silently
    dropping the guarantee — pass ``replay_safe=False`` to explicitly
    accept non-idempotent replays there."""
    from quackpipe_spark.operators.fts import append_postings

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_postings(
                batch_df,
                index_path,
                id_col=id_col,
                text_col=text_col,
                compact_over_files=compact_over_files,
                write_id=f"b{batch_id}" if replay_safe else None,
            )

    return handle
