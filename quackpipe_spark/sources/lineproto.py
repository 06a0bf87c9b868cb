"""InfluxDB line-protocol source (SURVEY §2A A1-A3).

Behavior parity with /root/reference/merge/parsers/lineproto_parser.go:26-167:

- streaming parse of ``measurement[,tags] fields [timestamp]`` lines into
  **columnar** batches (dict of name → list),
- tags are strings; field types are inferred (float default, ``123i`` int,
  ``123u`` uint, quoted string, bool),
- a batch is split whenever the (tag-keys + field-name/type) fingerprint
  changes, so every emitted batch is schema-homogeneous
  (getSchemaId, lineproto_parser.go:40-64),
- the fingerprint is **order-invariant** (commutative sum/xor over per-key
  hashes) and moves a key between tags and fields changes it only via the
  type code — same invariants as lineproto_parser_test.go:8-54,
- timestamps normalize to int64 epoch **nanoseconds** honoring the
  ``precision`` query param (ns default; insert_into.go:34-37).

Two execution paths:

- ``parse_lines`` — driver-side, used by the HTTP ingest endpoint
  (micro-batches; the reference parses on one node too).
- ``parse_lines_df`` — distributed: a DataFrame of raw lines is parsed
  per-partition with mapInArrow for bulk backfills (escape-free lines
  vectorized in pyarrow.compute, the rest through the per-line
  reference scanner), producing one DataFrame per schema fingerprint.
"""

from __future__ import annotations

import hashlib
import math
import re
import time
from dataclasses import dataclass, field

_PRECISION_NS = {"ns": 1, "us": 1_000, "u": 1_000, "ms": 1_000_000, "s": 1_000_000_000}

_MASK64 = (1 << 64) - 1


@dataclass
class ParsedBatch:
    """Mirror of ParserResponse (lineproto_parser.go:95-105): one
    schema-homogeneous columnar batch bound for (database, table)."""

    database: str
    table: str
    schema_id: int
    data: dict[str, list] = field(default_factory=dict)
    # explicit count for column-less batches (an ndjson line whose values
    # are ALL null yields a row with no typed columns — it must still
    # write one auto-timestamped row, not vanish behind a success ack)
    n_rows: int = 0

    def num_rows(self) -> int:
        return len(next(iter(self.data.values()))) if self.data else self.n_rows


def _hash64(s: str) -> int:
    # Any stable 64-bit hash works; the reference uses CityHash64 — only
    # the commutative-combination property matters, not the exact values.
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


def schema_id(tag_keys: list[str], field_types: dict[str, str]) -> int:
    """Order-invariant schema fingerprint (parity: getSchemaId,
    lineproto_parser.go:40-64 — commutative sum over key+typecode hashes)."""
    acc = 0
    for k in tag_keys:
        acc = (acc + _hash64(f"{k}\x00VARCHAR")) & _MASK64
    for name, typ in field_types.items():
        acc = (acc + _hash64(f"{name}\x00{typ}")) & _MASK64
    return acc


# shapes a fingerprint memo holds before it is cleared: a batch has few
# shapes, an adversarial one unbounded many
_SHAPE_MEMO_MAX = 4096


def shape_schema_id(memo: dict, tag_keys: tuple, field_types: tuple) -> int:
    """``schema_id`` looked up by the line's shape — the tag-key tuple
    and the ``(field, type)`` tuple — in a caller-owned ``memo``, so the
    md5s run once per shape instead of once per line. The memo only
    caches ``schema_id``'s result, so the fingerprint stays
    order-invariant."""
    key = (tag_keys, field_types)
    sid = memo.get(key)
    if sid is None:
        if len(memo) >= _SHAPE_MEMO_MAX:
            memo.clear()
        sid = memo[key] = schema_id(tag_keys, dict(field_types))
    return sid


def _split_escaped(s: str, sep: str) -> list[str]:
    """Split on unescaped sep, KEEPING backslash escapes in the pieces —
    stripping them here would make a later '=' partition unable to tell
    an escaped '\\=' inside a key from the real key/value separator
    (key 'host\\=1' parsed as key 'host', value '1=…'). Pieces are
    unescaped individually AFTER their own structural split."""
    out, cur, i = [], [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == sep:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _partition_unescaped(s: str, sep: str) -> tuple[str, str | None]:
    """(head, tail) around the first UNESCAPED sep; tail None if absent."""
    i = 0
    while i < len(s):
        if s[i] == "\\":
            i += 2
            continue
        if s[i] == sep:
            return s[:i], s[i + 1 :]
        i += 1
    return s, None


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _split_top(s: str) -> list[str]:
    """Split a line into measurement+tags / fields / timestamp on unescaped,
    unquoted spaces.

    Quotes are string delimiters ONLY in the field section (parts[1]) —
    the protocol gives '"' no meaning in the measurement/tag section, so
    a literal quote in a tag value ('host=web"1') must not swallow the
    section separator (the influx models parser accepts such lines)."""
    parts, cur, i, in_quote = [], [], 0, False
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == '"' and len(parts) == 1:  # inside the field section
            in_quote = not in_quote
            cur.append(c)
        elif c == " " and not in_quote:
            if cur:
                parts.append("".join(cur))
                cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        parts.append("".join(cur))
    return parts


def _split_fields(s: str) -> list[str]:
    """Split the field section on unquoted, unescaped commas. An empty
    last piece (a trailing comma) is kept, so the caller rejects it."""
    out, cur, i, in_quote = [], [], 0, False
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            cur.append(c)
            cur.append(s[i + 1])
            i += 2
            continue
        if c == '"':
            in_quote = not in_quote
            cur.append(c)
        elif c == "," and not in_quote:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


_INT_RE = re.compile(r"^-?\d+$")
_UINT_RE = re.compile(r"^\d+$")
# finite decimal/scientific only: python float() would also accept
# '1_5', '+5', 'inf', 'nan' — all malformed per the line-protocol spec,
# and silently ingesting 1_5 as 15.0 is data corruption, not leniency
_FLOAT_RE = re.compile(r"^[-+]?(\d+(\.\d*)?|\.\d+)([eE][-+]?\d+)?$")


def _parse_field_value(raw: str) -> tuple[str, object]:
    """→ (canonical type, python value). Float default; 123i int; 123u uint;
    quoted string; t/T/true/TRUE/f/... bool (line-protocol spec; parity with
    models.Point field parsing used at lineproto_parser.go:76-91). Numeric
    forms are validated with strict regexes — int()/float() leniency would
    accept protocol-invalid text ('1_5' → 15) and corrupt silently."""
    if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
        body = raw[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return "VARCHAR", body
    if raw.endswith("i"):
        if not _INT_RE.match(raw[:-1]):
            raise ValueError(f"malformed integer field value: {raw!r}")
        v = int(raw[:-1])
        # range-checked like the reference's strconv.ParseInt: an
        # unrepresentable value must reject THIS LINE (skippable under
        # the poison-pill policy), not blow up the whole batch later at
        # the Arrow int64 conversion
        if not -(1 << 63) <= v < (1 << 63):
            raise ValueError(f"integer field value out of int64 range: {raw!r}")
        return "INT8", v
    if raw.endswith("u"):
        # uintegers are non-negative by spec; storing -5 in the
        # UBIGINT-typed column would read back as 2^64-5
        if not _UINT_RE.match(raw[:-1]):
            raise ValueError(f"malformed unsigned field value: {raw!r}")
        v = int(raw[:-1])
        if v >= (1 << 64):
            raise ValueError(f"unsigned field value out of uint64 range: {raw!r}")
        return "UBIGINT", v
    if raw in ("t", "T", "true", "True", "TRUE"):
        return "BOOLEAN", True
    if raw in ("f", "F", "false", "False", "FALSE"):
        return "BOOLEAN", False
    if not _FLOAT_RE.match(raw):
        raise ValueError(f"malformed float field value: {raw!r}")
    v = float(raw)
    # the grammar rejects literal inf/nan, so a non-finite result here is
    # OVERFLOW ('1e309'): reject like the int/uint/timestamp range checks
    # (strconv.ParseFloat ERANGE parity) — letting inf through produced
    # the invalid-JSON token 'Infinity' on the distributed doc path and
    # a PERMISSIVE-mode all-NULL row (review r12). math.isinf, not a
    # tuple-membership check: this is the most-executed branch of the
    # per-line hot path and the tuple built two floats per value (the
    # ndjson strict hook already uses isinf for the same reason)
    if math.isinf(v):
        raise ValueError(f"float field value overflows float64: {raw!r}")
    return "FLOAT8", v


def _find_unquoted(s: str, ch: str, i: int = 0) -> int:
    """Index of the first ``ch`` at or after ``i`` that lies outside a
    ``"…"`` pair, or -1. Quote parity counts from ``i`` and an
    unterminated quote runs to the end of ``s``. Backslash-free input
    only: the general scanner lets an escaped quote not toggle."""
    while True:
        j = s.find(ch, i)
        if j == -1:
            return -1
        q = s.find('"', i, j)
        if q == -1:
            return j
        i = s.find('"', q + 1)
        if i == -1:
            return -1
        i += 1


def _split_top_quoted(s: str) -> list[str]:
    """``_split_top`` for a backslash-free line, by ``str.find`` jumps:
    the measurement/tag token ends at the first space (quotes there are
    literal), the field token at the first space outside quotes, and the
    rest splits on spaces with quotes literal again."""
    head, _, rest = s.partition(" ")
    rest = rest.lstrip(" ")
    if not rest:
        return [head]
    end = _find_unquoted(rest, " ")
    if end == -1:
        return [head, rest]
    return [head, rest[:end]] + [p for p in rest[end + 1 :].split(" ") if p]


def _split_fields_quoted(s: str) -> list[str]:
    """``_split_fields`` for a backslash-free field section: split on
    commas outside quotes, keeping an empty last piece."""
    out, i = [], 0
    j = _find_unquoted(s, ",")
    while j != -1:
        out.append(s[i:j])
        i = j + 1
        j = _find_unquoted(s, ",", i)
    out.append(s[i:])
    return out


def parse_line(line: str, precision: str = "ns") -> tuple[str, list[tuple[str, str]], list[tuple[str, str, object]], int | None]:
    """Parse one line → (measurement, tags, fields, ts_ns|None).

    Three routes, chosen by what the stripped line contains:

    - no ``\\`` and no ``"`` (most telemetry): ``str.split`` on spaces
      and commas, which is what the general scanner does without those
      characters;
    - ``"`` but no ``\\`` (string fields): ``_split_top_quoted`` and
      ``_split_fields_quoted`` jump between quotes with ``str.find``
      instead of walking every character;
    - any ``\\``: the general scanner (``_parse_line_general``), the
      reference the other two are tested against.

    Without a backslash ``_partition_unescaped`` is ``str.partition`` and
    ``_unescape`` the identity, so both fast routes share one tag/field
    loop. ``test_lineproto_property`` pins the equivalence:
    ``test_fast_path_matches_general_scanner`` renders valid lines with
    and without string fields, and
    ``test_quoted_route_matches_general_scanner`` feeds raw quoted lines
    (unterminated quotes, trailing commas, extra tokens) and compares the
    result or the ``ValueError`` text. The driver HTTP door
    (``parse_lines``) and the distributed parse's per-line fallback both
    run through here. Every route keeps an empty last field piece, so a
    trailing comma in the field section (``m f=1, 5``) is rejected as
    ``malformed field ''`` whatever else the line holds."""
    mult = _PRECISION_NS.get(precision)
    if mult is None:
        raise ValueError(f"unknown precision {precision!r}")
    s = line.strip()
    if "\\" in s:
        return _parse_line_general(line, s, mult)
    quoted = '"' in s
    parts = _split_top_quoted(s) if quoted else [p for p in s.split(" ") if p]
    if len(parts) < 2:
        raise ValueError(f"malformed line (need measurement and fields): {line!r}")
    head = parts[0].split(",")
    measurement = head[0]
    if not measurement:
        raise ValueError(f"empty measurement: {line!r}")
    tags = []
    for t in head[1:]:
        k, sep, v = t.partition("=")
        if not sep:
            raise ValueError(f"malformed tag {t!r} in {line!r}")
        tags.append((k, v))
    fields = []
    for f in _split_fields_quoted(parts[1]) if quoted else parts[1].split(","):
        k, sep, v = f.partition("=")
        if not sep:
            raise ValueError(f"malformed field {f!r} in {line!r}")
        typ, val = _parse_field_value(v)
        fields.append((k, typ, val))
    return _finish_line(line, parts, tags, fields, mult, measurement)


def _parse_line_general(line: str, s: str, mult: int):
    """The general scanner: per-character splits that honour backslash
    escapes and field-section quotes. ``s`` is ``line`` stripped."""
    parts = _split_top(s)
    if len(parts) < 2:
        raise ValueError(f"malformed line (need measurement and fields): {line!r}")
    head = _split_escaped(parts[0], ",")
    measurement = _unescape(head[0])
    if not measurement:
        raise ValueError(f"empty measurement: {line!r}")
    tags = []
    for t in head[1:]:
        k, v = _partition_unescaped(t, "=")
        if v is None:
            raise ValueError(f"malformed tag {t!r} in {line!r}")
        tags.append((_unescape(k), _unescape(v)))
    fields = []
    for f in _split_fields(parts[1]):
        k, v = _partition_unescaped(f, "=")
        if v is None:
            raise ValueError(f"malformed field {f!r} in {line!r}")
        typ, val = _parse_field_value(v)
        fields.append((_unescape(k), typ, val))
    return _finish_line(line, parts, tags, fields, mult, measurement)


def _finish_line(line, parts, tags, fields, mult, measurement):
    """Shared tail of both parse paths: timestamp token, reserved-name and
    duplicate-name protocol checks."""
    ts_ns = None
    if len(parts) > 3:
        # an unescaped space produced a 4th token — silently dropping it
        # would ack a 204 while part of the payload vanished
        raise ValueError(f"unexpected tokens after timestamp: {line!r}")
    if len(parts) == 3:
        if not _INT_RE.match(parts[2]):
            # int() leniency would accept '1_0' as 10 — protocol error
            raise ValueError(f"malformed timestamp {parts[2]!r} in {line!r}")
        ts_ns = int(parts[2]) * mult
        # reference parity (strconv.ParseInt range error): an
        # unrepresentable timestamp rejects THIS LINE — otherwise one
        # poison line fails the whole batch at the Arrow int64 cast,
        # even under skip_malformed
        if not -(1 << 63) <= ts_ns < (1 << 63):
            raise ValueError(f"timestamp out of int64-ns range: {parts[2]!r} in {line!r}")
    # 'time' is the reserved timestamp column, and a name appearing twice
    # (two tags, two fields, or a tag shadowing a field) would misalign
    # the columnar batch append — both are protocol errors, rejected here
    # so every consumer (streaming parse included) fails loudly instead
    # of producing a ragged batch
    names = [k for k, _ in tags] + [n for n, _, _ in fields]
    if "time" in names:
        raise ValueError(f"'time' is the reserved timestamp column: {line!r}")
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate tag/field name(s) {dupes} in {line!r}")
    return measurement, tags, fields, ts_ns


def parse_lines(
    text_or_lines,
    database: str = "default",
    precision: str = "ns",
    time_column: str = "time",
    skip_malformed: bool = False,
) -> list[ParsedBatch]:
    """Parse many lines into schema-homogeneous columnar batches.

    Batches split on (table, schema_id) change, preserving arrival order
    within a batch — parity with the channel-streamed ParserResponse
    (lineproto_parser.go:142-146). Lines with no timestamp get server
    clock ns (merge_tree_service.go:268-290 AutoTimestamp semantics are
    applied later in ingest; here we stamp at parse time like the
    reference's ``time`` from line protocol).

    ``skip_malformed``: drop unparseable lines instead of raising —
    the streaming door's opt-in poison-pill policy (a raised ValueError
    there fails the micro-batch and Structured Streaming replays the
    same offsets forever). The HTTP door keeps the default: reject the
    whole request with 400 like the reference.
    """
    if isinstance(text_or_lines, str):
        lines = text_or_lines.splitlines()
    else:
        lines = text_or_lines
    batches: list[ParsedBatch] = []
    cur: ParsedBatch | None = None
    memo: dict = {}
    for raw in lines:
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        try:
            table, tags, fields, ts_ns = parse_line(line, precision)
        except ValueError:
            if skip_malformed:
                continue
            raise
        if time_column != "time" and (
            any(k == time_column for k, _ in tags)
            or any(n == time_column for n, _, _ in fields)
        ):
            # parse_line only rejects the default 'time'; a CUSTOM time
            # column colliding with a tag/field would reset that column's
            # list and double-append into it — a silently ragged batch.
            # Under skip_malformed this line is exactly as malformed as a
            # parse failure: drop it, don't poison the stream.
            if skip_malformed:
                continue
            raise ValueError(
                f"{time_column!r} is the reserved timestamp column: {line!r}"
            )
        if ts_ns is None:
            ts_ns = time.time_ns()
        sid = shape_schema_id(
            memo,
            tuple([k for k, _ in tags]),
            tuple([(name, typ) for name, typ, _ in fields]),
        )
        if cur is None or cur.table != table or cur.schema_id != sid:
            cur = ParsedBatch(database=database, table=table, schema_id=sid)
            for k, _ in tags:
                cur.data[k] = []
            for name, _, _ in fields:
                cur.data[name] = []
            cur.data[time_column] = []
            batches.append(cur)
        for k, v in tags:
            cur.data[k].append(v)
        for name, _, v in fields:
            cur.data[name].append(v)
        cur.data[time_column].append(ts_ns)
    return batches


class ParsedFrames(list):
    """List of ``(table, schema_id, DataFrame)`` whose frames are all
    projections of ONE persisted parse of the input corpus. The caller
    that consumes the frames owns the cache: call :meth:`unpersist`
    (or use as a context manager) once the frames' actions have run —
    unpersisting earlier is still correct but recomputes the parse per
    consumed frame."""

    def __init__(self, items, inter):
        super().__init__(items)
        self._inter = inter

    def unpersist(self, blocking: bool = False) -> None:
        self._inter.unpersist(blocking)

    def __enter__(self) -> "ParsedFrames":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


# generic single-parse intermediate: ALL primitive columns. Values ride
# ONE JSON document per line (tags + typed fields in a flat object) and
# are decoded JVM-side per fingerprint with from_json against that
# fingerprint's exact schema — Jackson parses integral values as exact
# longs and py3 repr round-trips doubles, so no value is lossy, and
# NaN/Inf can't appear (the field-value grammar rejects the literals and
# both parse paths reject float OVERFLOW — '1e309' is a per-line
# ValueError, and the vector path admits only provably-finite float
# text, routing everything else to the per-line scanner). The
# previous intermediate carried five map<string,*> columns, whose
# pandas→Arrow conversion dominated bulk-parse cost at 20M lines
# (BENCH_PARSE_r10: ~150 of 174 µs/line-core was outside the parse
# loop); primitive string columns convert at memcpy speed.
_INTER_DDL = (
    "table string, schema_id decimal(20,0), schema_desc string, "
    "doc string, time bigint"
)
_INTER_COLS = ["table", "schema_id", "schema_desc", "doc", "time"]

# bool tokens the field-value grammar accepts (parse_line/_parse_field_value)
_VEC_TRUE = ("t", "T", "true", "True", "TRUE")
_VEC_BOOL = _VEC_TRUE + ("f", "F", "false", "False", "FALSE")
_TYPE_CANON = {"i": "INT8", "u": "UBIGINT", "b": "BOOLEAN", "d": "FLOAT8"}


def _sid_desc(tag_keys, ftypes, sid_memo, shape_key):
    """Memoized (schema_id, desc) — the md5 fingerprint + sorted desc
    cost ~5 µs/line while a corpus has few shapes. Bounded: an
    adversarial corpus with unbounded shapes clears the memo."""
    ent = sid_memo.get(shape_key)
    if ent is None:
        desc = "\x1f".join(
            sorted(
                [f"{k}:VARCHAR" for k in tag_keys]
                + [f"{n}:{t}" for n, t in ftypes.items()]
            )
        )
        ent = (schema_id(list(tag_keys), ftypes), desc)
        if len(sid_memo) >= _SHAPE_MEMO_MAX:
            sid_memo.clear()
        sid_memo[shape_key] = ent
    return ent


def _parse_lines_py(lines, precision, sid_memo, parse_counter, skip_malformed):
    """Per-line reference path (the general scanner): list of stripped
    lines → (kept_offsets, table, sid, desc, doc, time) column lists.
    ``kept_offsets`` indexes into ``lines`` (a skip_malformed drop or a
    comment/empty leaves its offset out)."""
    import json as _json

    dumps = _json.dumps
    kept, c_table, c_sid, c_desc, c_doc, c_time = [], [], [], [], [], []
    for off, line in enumerate(lines):
        line = (line or "").strip()
        if not line or line.startswith("#"):
            continue
        try:
            table, tags, fields, ts = parse_line(line, precision)
        except ValueError:
            if skip_malformed:
                continue
            raise
        if parse_counter is not None:
            parse_counter.add(1)
        shape = (
            tuple(k for k, _ in tags),
            tuple((n, t) for n, t, _ in fields),
        )
        ftypes = {n: t for n, t, _ in fields}
        sid, desc = _sid_desc([k for k, _ in tags], ftypes, sid_memo, shape)
        obj = dict(tags)
        for n, typ, v in fields:
            # UBIGINT rides the int64 slot two's-complement-wrapped,
            # same as the driver flush path (writer.py / uint64.go:13):
            # an unwrapped value >= 2^63 would overflow the bigint decode
            if typ == "UBIGINT" and v >= (1 << 63):
                v -= 1 << 64
            obj[n] = v
        kept.append(off)
        c_table.append(table)
        c_sid.append(sid)
        c_desc.append(desc)
        c_doc.append(dumps(obj, separators=(",", ":")))
        c_time.append(ts if ts is not None else time.time_ns())
    return kept, c_table, c_sid, c_desc, c_doc, c_time


def _vec_group(sigkey, head_g, fstr_g, ts64, gpos, sid_memo):
    """Vectorized parse of ONE shape group (same tag-key and field-key
    signature). Returns (block | None, slow_positions): the block holds
    per-row metadata + the JSON doc column for rows the vector path
    could finish; every row it can't PROVE it parses identically to
    parse_line goes back to ``slow_positions`` for the per-line path.

    Guarantees relied on (established by the caller's routing): lines
    contain no backslash, no double quote, no control chars, no double
    spaces, exactly 3 tokens, a non-negative int64 timestamp, and a
    measurement without '=' — under those, str.split degenerates to the
    same token structure parse_line's fast path sees, and values are
    JSON-safe verbatim."""
    import json as _json

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    m = len(gpos)
    sh, sfld = sigkey.split("\x00")
    hkeys = sh.split(",")
    meas, tag_keys = hkeys[0], hkeys[1:]
    fkeys = sfld.split(",")
    if not meas:
        return None, gpos  # empty measurement: per-line raises
    names = tag_keys + fkeys
    if "time" in names or len(set(names)) != len(names):
        return None, gpos  # reserved/duplicate name: per-line raises
    slow = np.zeros(m, dtype=bool)
    parts: list = ["{"]

    def _col_tokens(split_list, n_tok):
        flat = pc.list_flatten(split_list)
        if len(flat) != m * n_tok:
            return None  # defensive: ragged split → whole group slow
        base = np.arange(m, dtype=np.int64) * n_tok
        return [flat.take(pa.array(base + j)) for j in range(n_tok)]

    first = True
    if tag_keys:
        hcols = _col_tokens(pc.split_pattern(head_g, ","), len(hkeys))
        if hcols is None:
            return None, gpos
        for k, tok in zip(tag_keys, hcols[1:]):
            # token == key means no '=' → malformed tag per-line error
            slow |= np.asarray(
                pc.equal(pc.utf8_length(tok), len(k)).to_numpy(zero_copy_only=False),
                dtype=bool,
            )
            val = pc.utf8_slice_codeunits(tok, start=len(k) + 1, stop=1 << 30)
            parts += [("" if first else ",") + _json.dumps(k) + ':"', val, '"']
            first = False
    fcols = _col_tokens(pc.split_pattern(fstr_g, ","), len(fkeys))
    if fcols is None:
        return None, gpos
    tcols = []
    for k, tok in zip(fkeys, fcols):
        slow |= np.asarray(
            pc.equal(pc.utf8_length(tok), len(k)).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        raw = pc.utf8_slice_codeunits(tok, start=len(k) + 1, stop=1 << 30)
        # value grammar, restricted to the subset whose VERBATIM text is
        # both int64-safe and valid JSON (≤18 digits; floats with a
        # digit on each side of the dot; integer part 0|[1-9]… — JSON
        # rejects leading zeros like '007', so such values would ride
        # the doc as INVALID JSON and from_json would null the whole
        # row, review r14) — protocol-legal values outside it ('.5',
        # '5.', '+5', '007', 19-digit ints) take the per-line path
        is_i = np.asarray(
            pc.match_substring_regex(raw, r"^-?(0|[1-9]\d{0,17})i$").to_numpy(
                zero_copy_only=False
            ),
            dtype=bool,
        )
        is_u = np.asarray(
            pc.match_substring_regex(raw, r"^(0|[1-9]\d{0,17})u$").to_numpy(
                zero_copy_only=False
            ),
            dtype=bool,
        )
        is_b = np.asarray(
            pc.is_in(raw, value_set=pa.array(list(_VEC_BOOL))).to_numpy(
                zero_copy_only=False
            ),
            dtype=bool,
        )
        # PROVABLY-FINITE floats only (review r12): overflow text
        # ('1e309', 309-digit mantissas) would ride the doc VERBATIM and
        # Jackson decodes it to Infinity — divergent from the per-line
        # path, which rejects overflow. Eligibility admits only values
        # that CANNOT overflow: ≤32 chars total (one offset-diff length
        # pass — mantissa ≤ ~1e31) with a ≤2-digit exponent (≤e99 →
        # magnitude ≤ ~1e130 ≪ 1.8e308). Chosen over an extra per-value
        # cast pass (+35% bulk-parse cost, measured) and over counted
        # repetition in the regex (a {1,308} quantifier bloats the
        # automaton). Exotic-but-legal values outside it ('1e300',
        # 40-digit decimals) take the per-line reference path — same
        # result, exactly-once, just not vectorized.
        is_d = np.asarray(
            pc.and_(
                pc.match_substring_regex(
                    raw, r"^-?(0|[1-9]\d*)(\.\d+)?([eE][-+]?\d{1,2})?$"
                ),
                pc.less_equal(pc.utf8_length(raw), 32),
            ).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        tcode = np.full(m, "?", dtype="U1")
        tcode[is_d] = "d"
        tcode[is_b] = "b"
        tcode[is_u] = "u"
        tcode[is_i] = "i"
        slow |= tcode == "?"
        tcols.append(tcode)
        num = pc.replace_substring_regex(raw, "[iu]$", "")
        boolv = pc.if_else(
            pc.is_in(raw, value_set=pa.array(list(_VEC_TRUE))), "true", "false"
        )
        val = pc.if_else(pa.array(is_b), boolv, num)
        parts += [("" if first else ",") + _json.dumps(k) + ":", val]
        first = False
    parts.append("}")
    doc = pc.binary_join_element_wise(*parts, "")

    # per-row type signature → (sid, desc); shape variation within a
    # group (f=1i on one line, f=1.5 on the next) is legal but rare —
    # the constant-class shortcut skips the per-row join that otherwise
    # costs ~2 µs/line
    sid_arr = np.empty(m, dtype=object)
    desc_arr = np.empty(m, dtype=object)
    if m and not slow.all():
        ns = ~slow
        if all((c[ns] == c[ns][0]).all() for c in tcols):
            groups = [("".join(c[ns][0] for c in tcols), ns)]
        else:
            tsig_rows = np.array(["".join(r) for r in np.stack(tcols, axis=1)], dtype=object)
            groups = [
                (t, (tsig_rows == t) & ns) for t in np.unique(tsig_rows[ns])
            ]
        for tsig, sel in groups:
            ftypes = {k: _TYPE_CANON[c] for k, c in zip(fkeys, tsig)}
            sid, desc = _sid_desc(
                tag_keys, ftypes, sid_memo, (sigkey, tsig)
            )
            sid_arr[sel] = sid
            desc_arr[sel] = desc
    if slow.all():
        return None, gpos
    keep = ~slow
    block = {
        "pos": gpos[keep],
        "table": [meas] * int(keep.sum()),
        "sid": list(sid_arr[keep]),
        "desc": list(desc_arr[keep]),
        "doc": doc.filter(pa.array(keep)),
        "time": ts64[keep],
    }
    return block, gpos[slow]


def _parse_batch_arrow(
    values, out_schema, precision, sid_memo, parse_counter, skip_malformed
):
    """One Arrow batch of raw lines → one intermediate RecordBatch.

    Routing: lines that are PROVABLY on the escape-free fast grammar
    (no ``\\``/``"``/control chars/double spaces, exactly 3 tokens,
    int64 timestamp, measurement without '=') parse vectorized in
    pyarrow.compute, grouped by shape signature; everything else —
    including every malformed shape, so error behavior is byte-for-byte
    parse_line's — takes the per-line path. A differential property
    test pins path equivalence (test_lineproto_property)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    mult = _PRECISION_NS.get(precision)
    if mult is None:
        raise ValueError(f"unknown precision {precision!r}")
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    s = pc.utf8_trim_whitespace(pc.fill_null(values.cast(pa.string()), ""))
    keep = pc.and_(
        pc.invert(pc.equal(s, "")), pc.invert(pc.starts_with(s, "#"))
    )
    s = s.filter(keep)
    n = len(s)
    allpos = np.arange(n, dtype=np.int64)
    blocks: list = []
    slow_parts: list = []
    if n:
        hazard = pc.match_substring_regex(s, r'["\\]|  |[\x00-\x1f]')
        fast = np.asarray(
            pc.and_(
                pc.invert(hazard), pc.equal(pc.count_substring(s, " "), 2)
            ).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        slow_parts.append(allpos[~fast])
        fpos = allpos[fast]
        if len(fpos):
            sf = s.take(pa.array(fpos))
            toks = pc.list_flatten(pc.split_pattern(sf, " "))
            mfast = len(fpos)
            base = np.arange(mfast, dtype=np.int64) * 3
            head = toks.take(pa.array(base))
            fstr = toks.take(pa.array(base + 1))
            tsv = toks.take(pa.array(base + 2))
            ok_ts = pc.or_(
                pc.match_substring_regex(tsv, r"^\d{1,18}$"),
                pc.and_(
                    pc.match_substring_regex(tsv, r"^\d{19}$"),
                    pc.less_equal(tsv, "9223372036854775807"),
                ),
            )
            meas_ok = pc.invert(
                pc.match_substring(
                    pc.list_element(pc.split_pattern(head, ",", max_splits=1), 0),
                    "=",
                )
            )
            ok = np.asarray(
                pc.and_(ok_ts, meas_ok).to_numpy(zero_copy_only=False), dtype=bool
            )
            slow_parts.append(fpos[~ok])
            if ok.any():
                sel = pa.array(ok)
                head, fstr, tsv = head.filter(sel), fstr.filter(sel), tsv.filter(sel)
                fpos = fpos[ok]
                ts64 = np.asarray(
                    pc.cast(tsv, pa.int64()).to_numpy(zero_copy_only=False),
                    dtype=np.int64,
                )
                if mult != 1:
                    lim = (2**63 - 1) // mult
                    over = ts64 > lim
                    if over.any():
                        slow_parts.append(fpos[over])
                        sel = pa.array(~over)
                        head, fstr, tsv = (
                            head.filter(sel),
                            fstr.filter(sel),
                            tsv.filter(sel),
                        )
                        fpos, ts64 = fpos[~over], ts64[~over]
                    ts64 = ts64 * mult
                sig = pc.binary_join_element_wise(
                    pc.replace_substring_regex(head, "=[^,]*", ""),
                    pc.replace_substring_regex(fstr, "=[^,]*", ""),
                    "\x00",
                )
                signp = np.asarray(sig.to_numpy(zero_copy_only=False), dtype=object)
                uniq, inv = np.unique(signp, return_inverse=True)
                for gi, sigkey in enumerate(uniq):
                    rows = np.where(inv == gi)[0]
                    ridx = pa.array(rows)
                    block, slow_pos = _vec_group(
                        sigkey,
                        head.take(ridx),
                        fstr.take(ridx),
                        ts64[rows],
                        fpos[rows],
                        sid_memo,
                    )
                    slow_parts.append(slow_pos)
                    if block is not None:
                        blocks.append(block)

    slow_pos = (
        np.sort(np.concatenate(slow_parts)) if slow_parts else np.empty(0, np.int64)
    )
    if len(slow_pos):
        slow_lines = s.take(pa.array(slow_pos)).to_pylist()
    else:
        slow_lines = []
    kept, st, ssid, sdesc, sdoc, stime = _parse_lines_py(
        slow_lines, precision, sid_memo, parse_counter, skip_malformed
    )
    if parse_counter is not None:
        parse_counter.add(sum(len(b["pos"]) for b in blocks))

    # assemble in ORIGINAL line order (blocks are shape-grouped)
    pos_all = np.concatenate(
        [b["pos"] for b in blocks] + [slow_pos[kept]]
        if blocks or len(slow_pos)
        else [np.empty(0, np.int64)]
    )
    order = pa.array(np.argsort(pos_all, kind="stable"))
    table = pa.array(
        [v for b in blocks for v in b["table"]] + st, type=pa.string()
    ).take(order)
    sid = pa.array(
        [v for b in blocks for v in b["sid"]] + ssid, type=pa.decimal128(20, 0)
    ).take(order)
    desc = pa.array(
        [v for b in blocks for v in b["desc"]] + sdesc, type=pa.string()
    ).take(order)
    doc_arr = pa.concat_arrays(
        [b["doc"] for b in blocks] + [pa.array(sdoc, type=pa.string())]
    ).take(order)
    tm = pa.array(
        np.concatenate([b["time"] for b in blocks] + [np.asarray(stime, np.int64)])
        if blocks or stime
        else np.empty(0, np.int64),
        type=pa.int64(),
    ).take(order)
    return pa.RecordBatch.from_arrays(
        [table, sid, desc, doc_arr, tm], schema=out_schema
    )


def parse_lines_df(
    spark,
    lines_df,
    database: str = "default",
    precision: str = "ns",
    parse_counter=None,
    skip_malformed: bool = False,
):
    """Distributed bulk parse: DataFrame[value: string] →
    :class:`ParsedFrames` of (table, schema_id, DataFrame) per
    fingerprint.

    SINGLE-PASS: one mapInArrow job parses every line exactly once into
    a persisted generic intermediate (fingerprint + one value map per
    canonical type); the fingerprint set is then read from that
    intermediate and each per-fingerprint frame is a JVM-side
    filter + map-lookup projection of the SAME cached parse. A corpus
    with S schema shapes costs ONE python parse pass, not S+1 (the
    prior design re-ran the full parse per fingerprint). Reference
    contract: one streaming parse per batch
    (lineproto_parser.go:26-167).

    ``parse_counter``: optional SparkContext accumulator incremented
    once per parsed line (diagnostic hook; the exactly-once test rides
    it). ``skip_malformed``: drop unparseable lines instead of failing
    the job (see parse_lines — the streaming poison-pill policy).
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from quackpipe_spark.types import resolve

    def parse_once(it):
        import pyarrow as pa

        # (tag names, field name:type tuple) → (schema_id, desc): the
        # md5 fingerprint + sorted desc build cost ~5 µs/line and a
        # corpus has FEW shapes — memoize per executor batch stream.
        # Bounded: an adversarial corpus with unbounded shapes clears
        # the memo instead of growing it.
        sid_memo: dict = {}
        out_schema = pa.schema(
            [
                ("table", pa.string()),
                ("schema_id", pa.decimal128(20, 0)),
                ("schema_desc", pa.string()),
                ("doc", pa.string()),
                ("time", pa.int64()),
            ]
        )
        for batch in it:
            # select the value column BY NAME: a multi-column lines_df
            # would otherwise silently parse whatever sits at position 0
            idx = batch.schema.get_field_index("value")
            if idx < 0:
                raise ValueError(
                    "parse_lines_df expects a 'value' string column; got "
                    f"{batch.schema.names}"
                )
            yield _parse_batch_arrow(
                batch.column(idx),
                out_schema,
                precision,
                sid_memo,
                parse_counter,
                skip_malformed,
            )

    # project to the contract column up front: prunes sibling columns
    # from the Arrow transfer and fails fast when 'value' is absent
    inter = lines_df.select("value").mapInArrow(parse_once, _INTER_DDL).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # discovery materializes the cache; (table, schema_desc) determines
    # schema_id (the fingerprint is a pure function of the sorted
    # name:type multiset), so filtering on desc avoids pushing a
    # >int64-range decimal literal through the comparison
    try:
        shapes = inter.select("table", "schema_id", "schema_desc").distinct().collect()
    except Exception:
        # a malformed line fails discovery BEFORE the caller holds the
        # ParsedFrames handle — unpersist here or the cache entry leaks
        # for the session (one per failed backfill batch)
        inter.unpersist()
        raise

    from pyspark.sql.types import StructField, StructType

    from quackpipe_spark.types import CANONICAL

    out = []
    for row in shapes:
        table, sid, desc = row["table"], int(row["schema_id"]), row["schema_desc"]
        cols = [c.rsplit(":", 1) for c in desc.split("\x1f")] if desc else []
        # decode the JSON doc against THIS fingerprint's exact schema —
        # names are unique across tags+fields (parse_line rejects
        # duplicates), so the flat object is unambiguous; Jackson reads
        # integral values as exact longs (no double round-trip) and the
        # whole decode is one codegen'd JVM expression
        struct = StructType(
            [StructField(name, CANONICAL[resolve(typ)], True) for name, typ in cols]
        )
        p = F.from_json(F.col("doc"), struct)
        sel = [p.getField(name).alias(name) for name, _ in cols]
        sel.append(F.col("time").alias("time"))
        df = inter.filter(
            (F.col("table") == table) & (F.col("schema_desc") == desc)
        ).select(*sel)
        out.append((table, sid, df))
    return ParsedFrames(out, inter)


