"""NDJSON insert source (SURVEY §2A A4).

The reference registers ``application/x-ndjson`` but its parser is fully
stubbed (merge/parsers/ndjson_insert_parser.go:17-90, all TODO) — this is
a strict-superset implementation of that intended interface: one JSON
object per line, columnarized into schema-homogeneous batches using the
same order-invariant fingerprint/batch-split machinery as line protocol,
with the stub's planned 10 MB batch cap honored.

Bulk/distributed path: ``spark.read.json`` — Spark's native ndjson reader
(schema inference, pushdown, partitioned scan) already covers backfills.
"""

from __future__ import annotations

import json
import math

from quackpipe_spark.sources.lineproto import ParsedBatch, shape_schema_id
from quackpipe_spark.types import infer_canonical

MAX_BATCH_BYTES = 10 * 1024 * 1024  # ndjson_insert_parser.go:40 (planned cap)


def _reject_nonstandard(token: str):
    """json.loads parse_constant hook: python's json module accepts the
    NON-standard tokens NaN/Infinity/-Infinity by default — a strict
    parser (including the reference's encoding/json) rejects the line
    with an error, and acking a stored inf/NaN parsed from invalid JSON
    is corruption, not leniency (review r12)."""
    raise ValueError(f"invalid JSON token {token!r} (strict JSON only)")


def _parse_float_strict(s: str) -> float:
    """json.loads parse_float hook: an OVERFLOW number ('1e999') is valid
    JSON text but float() silently converts it to inf — parse_constant
    never sees it, so without this hook the stored-inf corruption the
    strict-token rejection forbids came back through a different door
    (review r12 follow-up; lineproto rejects the same overflow on both
    of its parse paths, and Go's encoding/json errors with ERANGE)."""
    v = float(s)
    if math.isinf(v):  # runs per JSON number: no tuple/float allocs
        raise ValueError(f"number {s!r} overflows float64")
    return v


def parse_ndjson(
    text_or_lines,
    database: str = "default",
    table: str = "default",
) -> list[ParsedBatch]:
    """Parse ndjson text into columnar batches bound for (database, table).

    Batches split when the (keys, types) fingerprint changes OR the 10 MB
    cap is reached. Nested objects/arrays are rejected (the reference's
    4-type system has no nested types). Null values carry no type
    evidence, so a null-valued key is treated exactly like an ABSENT key:
    it does not enter the fingerprint (runs of null-bearing lines share
    one fingerprint instead of one per type flip) and is dropped from the
    batch data (the buffer's union-by-name null-fills it back) — typing
    it VARCHAR would create new columns as VARCHAR and then reject the
    first real typed value as a conflict. A line whose values are ALL
    null (or ``{}``) still counts as a row — the batch carries an
    explicit row count and the writer emits one auto-timestamped row,
    rather than acking success while writing nothing.
    """
    if isinstance(text_or_lines, str):
        lines = text_or_lines.splitlines()
    else:
        lines = text_or_lines
    batches: list[ParsedBatch] = []
    cur: ParsedBatch | None = None
    cur_bytes = 0
    memo: dict = {}
    for raw in lines:
        line = raw.strip()
        if not line:
            continue
        obj = json.loads(
            line, parse_constant=_reject_nonstandard, parse_float=_parse_float_strict
        )
        if not isinstance(obj, dict):
            raise ValueError(f"ndjson line must be an object, got {type(obj).__name__}")
        ftypes = []
        for k, v in obj.items():
            if isinstance(v, (dict, list)):
                raise TypeError(f"nested value for field {k!r} (4-type system)")
            if v is not None:
                ftypes.append((k, infer_canonical(v)))
        obj = {k: v for k, v in obj.items() if v is not None}
        sid = shape_schema_id(memo, (), tuple(ftypes))
        # split BEFORE appending when this line would breach the cap —
        # checking the running total alone let every capped batch exceed
        # MAX_BATCH_BYTES by up to one full line (ndjson_insert_parser.go:40).
        # Encoded BYTES, computed once per line: len(str) counts characters
        # and under-counts multi-byte UTF-8 up to 4x against the 10 MB cap
        nbytes = len(line.encode())
        if (
            cur is None
            or cur.schema_id != sid
            or cur_bytes + nbytes > MAX_BATCH_BYTES
        ):
            cur = ParsedBatch(database=database, table=table, schema_id=sid)
            for k in obj:
                cur.data[k] = []
            batches.append(cur)
            cur_bytes = 0
        for k in cur.data:
            cur.data[k].append(obj.get(k))
        cur.n_rows += 1
        cur_bytes += nbytes
    return batches


def ingest_ndjson(service, text: str, db: str = "default", table: str = "default"):
    """NDJSON → buffered store (HTTP insert path; mirrors ingest_lines,
    including the multi-batch atomicity pattern: EVERY batch validates
    before the first buffers, so a late type conflict rejects the whole
    request instead of persisting its early batches)."""
    batches = parse_ndjson(text, database=db, table=table)
    for batch in batches:
        service.validate_schema(batch.database, batch.table, batch.data)
    return [
        service.store(
            batch.database,
            batch.table,
            batch.data,
            n_rows=batch.num_rows(),
            pre_validated=True,
        )
        for batch in batches
    ]
