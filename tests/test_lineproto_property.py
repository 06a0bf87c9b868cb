"""Property-based line-protocol tests (hypothesis): render→parse roundtrip
for arbitrary tag/field content, and fingerprint invariants under
permutation — the generative analogue of the reference's TestGetSchemaId."""

from __future__ import annotations

import string

from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from quackpipe_spark.sources.lineproto import (
    parse_line,
    parse_lines,
    schema_id,
    shape_schema_id,
)

# identifier-ish keys (no escaping needed) and value domains
keys = st.text(string.ascii_lowercase + string.digits + "_", min_size=1, max_size=12)
tag_values = st.text(
    st.characters(codec="ascii", exclude_characters=' ,=\\"\n\r\t'),
    min_size=1,
    max_size=16,
)
str_values = st.text(
    st.characters(codec="ascii", exclude_characters='"\\\n\r'), max_size=24
)


def render_field(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}i"
    if isinstance(v, float):
        return repr(v)
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


@settings(max_examples=200, deadline=None)
@given(
    tags=st.dictionaries(keys, tag_values, max_size=4),
    fields=st.dictionaries(
        keys,
        st.one_of(
            st.booleans(),
            st.integers(min_value=-(2**62), max_value=2**62),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            str_values,
        ),
        min_size=1,
        max_size=5,
    ),
    ts=st.integers(min_value=0, max_value=2**62),
)
def test_render_parse_roundtrip(tags, fields, ts):
    # a name shared between a tag and a field (or named 'time') is now a
    # parse-time protocol error (ragged-batch guard) — keep the generated
    # line valid
    fields = {k: v for k, v in fields.items() if k not in tags and k != "time"}
    tags = {k: v for k, v in tags.items() if k != "time"}
    if not fields:
        fields = {("v" if "v" not in tags else "v__"): 1}
    line = "m"
    for k, v in tags.items():
        line += f",{k}={v}"
    line += " " + ",".join(f"{k}={render_field(v)}" for k, v in fields.items())
    line += f" {ts}"
    m, ptags, pfields, pts = parse_line(line)
    assert m == "m" and pts == ts
    assert dict(ptags) == tags
    parsed = {k: v for k, _, v in pfields}
    for k, v in fields.items():
        if isinstance(v, float) and not isinstance(v, bool):
            assert parsed[k] == v or (parsed[k] != parsed[k] and v != v)
        else:
            assert parsed[k] == v


@settings(max_examples=100, deadline=None)
@given(
    tag_keys=st.lists(keys, unique=True, max_size=5),
    field_items=st.lists(
        st.tuples(keys, st.sampled_from(["INT8", "FLOAT8", "VARCHAR", "BOOLEAN"])),
        unique_by=lambda t: t[0],
        min_size=1,
        max_size=5,
    ),
)
def test_schema_id_permutation_invariant(tag_keys, field_items):
    import random

    base = schema_id(tag_keys, dict(field_items))
    memo: dict = {}
    for _ in range(3):
        tk = list(tag_keys)
        fi = list(field_items)
        random.shuffle(tk)
        random.shuffle(fi)
        assert schema_id(tk, dict(fi)) == base
        # the shape memo caches schema_id, so it inherits the invariance
        assert shape_schema_id(memo, tuple(tk), tuple(fi)) == base
        assert shape_schema_id(memo, tuple(tk), tuple(fi)) == base


def test_shape_memo_is_bounded():
    from quackpipe_spark.sources.lineproto import _SHAPE_MEMO_MAX

    memo: dict = {}
    for i in range(_SHAPE_MEMO_MAX + 10):
        sid = shape_schema_id(memo, (f"t{i}",), (("f", "FLOAT8"),))
        assert sid == schema_id([f"t{i}"], {"f": "FLOAT8"})
        assert len(memo) <= _SHAPE_MEMO_MAX


@settings(max_examples=100, deadline=None)
@given(
    lines=st.lists(
        st.sampled_from(
            ["m a=1 1", "m b=2 2", "m a=1,b=2 3", "n a=1 4", "m a=\"s\" 5"]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_batch_rows_conserved(lines):
    batches = parse_lines(lines)
    assert sum(b.num_rows() for b in batches) == len(lines)
    # batches are schema-homogeneous: every column same length
    for b in batches:
        lengths = {len(v) for v in b.data.values()}
        assert len(lengths) == 1


@settings(max_examples=300, deadline=None)
@given(
    tags=st.dictionaries(keys, tag_values, max_size=4),
    fields=st.dictionaries(
        keys,
        st.one_of(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.booleans(),
            str_values,
        ),
        min_size=1,
        max_size=4,
    ),
    ts=st.one_of(st.none(), st.integers(min_value=0, max_value=2**62)),
)
@example(
    tags={"0": "0", "f0": "0"},
    fields={"0": 0},
    ts=None,
).via("discovered failure")
@example(tags={"host": "a"}, fields={"msg": "GET /x, 200 k=v", "n": 1}, ts=5)
def test_fast_path_matches_general_scanner(tags, fields, ts):
    """parse_line's two backslash-free routes — the plain split and the
    quote-aware split that string fields take — must equal the general
    scanner on every valid line they claim (string values here carry
    spaces, commas and '=' but never a quote or backslash, so the line
    stays backslash-free)."""
    from quackpipe_spark.sources import lineproto as L

    tags = {k: v for k, v in tags.items() if k != "time"}
    fields = {k: v for k, v in fields.items() if k not in tags and k != "time"}
    if not fields:
        # fallback field name must not collide with a generated tag name
        # (hypothesis found tags={'0':'0','f0':'0'} building a duplicate-name
        # line the engine correctly rejects on both paths)
        fb = "f0"
        while fb in tags:
            fb += "_"
        fields = {fb: 1.5}
    head = "m" + "".join(f",{k}={v}" for k, v in tags.items())
    body = ",".join(f"{k}={render_field(v)}" for k, v in fields.items())
    line = f"{head} {body}" + (f" {ts}" if ts is not None else "")
    assert "\\" not in line
    assert parse_line(line) == L._parse_line_general(line, line.strip(), 1)


# raw pieces of a backslash-free line: quotes in the tag section and in
# field values, with commas, spaces and '=' inside the quotes
_q_key = st.text(st.sampled_from('ab"'), min_size=1, max_size=3)
_q_value = st.one_of(
    st.text(st.sampled_from("ab ,=1"), max_size=6).map(lambda v: f'"{v}"'),
    st.text(st.sampled_from("ab ,=1"), max_size=6).map(lambda v: f'"{v}'),
    st.sampled_from(["", "1", "2i", "3u", "t", "x", '"', 'a"b', '""']),
)


@st.composite
def _quoted_line(draw):
    head = draw(_q_key) + "".join(
        f",{k}={v}"
        for k, v in draw(
            st.lists(st.tuples(_q_key, st.text(st.sampled_from('v"='), max_size=3)), max_size=2)
        )
    )
    body = ",".join(
        f"{k}={v}" for k, v in draw(st.lists(st.tuples(_q_key, _q_value), min_size=1, max_size=3))
    )
    body += draw(st.sampled_from(["", ",", ",,"]))
    tail = draw(st.sampled_from(["", " 5", "  5", " 5 6", ' "7"', " x", " -1", " 5 "]))
    return f"{head}{draw(st.sampled_from([' ', '  ']))}{body}{tail}"


def _outcome(fn, *args):
    try:
        return "ok", fn(*args)
    except ValueError as e:
        return "error", str(e)


@settings(max_examples=500, deadline=None)
@given(line=st.one_of(_quoted_line(), st.text(st.sampled_from('ab"=, 1'), max_size=20)))
@example(line='m,t=a"b s="x, y=z" 5')  # quote in a tag is literal
@example(line='m s="open, to the end 5')  # unterminated quote
@example(line='m s="x",')  # trailing comma rejected
@example(line='m s="x",,n=1 5')  # empty middle piece
@example(line='m s="x" 5 6')  # extra token
@example(line='m s="x" "5"')  # bad timestamp
@example(line='m s=,q="" 5')  # empty value
def test_quoted_route_matches_general_scanner(line):
    """A line with a quote and no backslash takes the str.find route; its
    result, or its ValueError text, must equal the general scanner's."""
    from quackpipe_spark.sources import lineproto as L

    assume('"' in line)
    assert "\\" not in line
    assert _outcome(parse_line, line) == _outcome(
        L._parse_line_general, line, line.strip(), 1
    )


def test_vectorized_df_parse_matches_driver_parse(spark):
    """r10 differential: parse_lines_df's vectorized escape-free block
    parser (pyarrow.compute, shape-grouped) must produce the SAME
    decoded frames as the driver's per-line reference path for a corpus
    covering every routing edge — fast shapes, escapes, quoted strings,
    '=' in measurement and tag values, empty values, comments,
    protocol-legal-but-not-JSON floats, 19-digit and wrapping uints,
    within-group type variation, unicode, control chars, and malformed
    lines under skip_malformed."""
    from quackpipe_spark.sources.lineproto import parse_lines, parse_lines_df

    corpus = [
        "m0,host=h1 f0=1.5,f1=2i 1700000000000000001",
        "m0,host=h2 f0=2.5,f1=3i 1700000000000000002",
        "m0,host=h3 f0=7i,f1=3i 1700000000000000003",  # type variation in f0
        "m1 only=42u 9223372036854775807",  # 19-digit ts at int64 max
        "m1 only=9223372036854775808u 5",  # uint wraps two's-complement
        "m2,t=v f=.5 6",  # legal float, not JSON
        "m2,t=v f=5. 7",
        "m2,t=v f=+5 8",
        'm3,esc=a\\ b s="qu\\"oted" 9',  # escapes + quoted string
        "m=x,t=v f=1 10",  # '=' in measurement
        "m4,t=a=b f=2 11",  # '=' inside tag value
        "m4,t= f=3 12",  # empty tag value
        "m5,t=éü f=t 13",  # unicode tag value, bool field
        "m5,t=x f=F 14",
        "# comment line",
        "",
        "m6 f=1u,g=-3i,h=1e3,k=True 15",
        "m6 f=2u,g=-4i,h=2.5e-3,k=f 16",
        "bad line with no fields",  # malformed → dropped (skip)
        "m7,x f=1 17",  # malformed tag (no '=') → dropped
        "m8 f=notanumber 18",  # malformed value → dropped
        "m9,tab=a\tb f=1 19",  # control char → slow path, valid tag
        "m10 time=1 20",  # reserved name → dropped
        "m10 f=1,f=2 21",  # duplicate field → dropped
        "m11 f=1",  # no-double-space but 2 tokens → slow, stamped ts
        "m12,ké=vé f=1 22",  # non-ascii TAG KEY: codepoint slicing contract
        "m12,k=v é=2.5 23",  # non-ascii FIELD KEY
        "mé,k=v f=1 24",  # non-ascii measurement
    ]
    # exclude the stamped-ts line from value comparison (nondeterministic)
    compare = [ln for ln in corpus if ln != "m11 f=1"]

    def _wrap(v):
        # the DF intermediate rides UBIGINT two's-complement-wrapped in
        # the int64 slot (writer parity); the driver batch keeps the raw
        # uint — normalize for comparison
        if isinstance(v, int) and not isinstance(v, bool) and v >= (1 << 63):
            return v - (1 << 64)
        return v

    driver = {}
    for b in parse_lines(compare, skip_malformed=True):
        rows = driver.setdefault((b.table, b.schema_id), [])
        names = list(b.data)
        for i in range(b.num_rows()):
            rows.append(tuple(sorted((n, _wrap(b.data[n][i])) for n in names)))

    ldf = spark.createDataFrame([(r,) for r in compare], "value string")
    dist = {}
    with parse_lines_df(spark, ldf, skip_malformed=True) as frames:
        for table, sid, df in frames:
            rows = dist.setdefault((table, sid), [])
            for r in df.collect():
                d = r.asDict()
                rows.append(tuple(sorted(d.items())))
    assert set(driver) == set(dist), (sorted(driver), sorted(dist))
    for key in driver:
        assert sorted(driver[key]) == sorted(dist[key]), key


# --- generative differential: vectorized arrow batch vs per-line path ------

_key_st = st.text(
    alphabet=st.characters(
        blacklist_characters=' ,=\\"\n\r\t#', blacklist_categories=("Cs", "Cc")
    ),
    min_size=1,
    max_size=5,
)
_tagval_st = st.text(
    alphabet=st.characters(
        blacklist_characters=" ,\\\n\r\t", blacklist_categories=("Cs", "Cc")
    ),
    max_size=6,
)
_fieldval_st = st.one_of(
    st.integers(min_value=-(2**70), max_value=2**70).map(lambda v: f"{v}i"),
    st.integers(min_value=0, max_value=2**70).map(lambda v: f"{v}u"),
    st.sampled_from(["t", "T", "true", "f", "FALSE", "False"]),
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.sampled_from([".5", "5.", "+5", "1e3", "-0.0", "1e400", "-1e400"]),
    st.text(alphabet=st.sampled_from(list("abc\\\"' ;")), max_size=5).map(
        lambda s: '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    ),
    st.sampled_from(["x", "1_5", "nan", ""]),  # malformed
)


@st.composite
def _lp_line(draw):
    meas = draw(_key_st)
    tags = draw(st.lists(st.tuples(_key_st, _tagval_st), max_size=3))
    fields = draw(st.lists(st.tuples(_key_st, _fieldval_st), min_size=1, max_size=4))
    ts = draw(
        st.one_of(
            st.integers(min_value=0, max_value=2**63 - 1),
            st.integers(min_value=-5, max_value=-1),
            st.integers(min_value=2**63, max_value=2**64),
        )
    )
    head = meas + "".join(f",{k}={v}" for k, v in tags)
    body = ",".join(f"{k}={v}" for k, v in fields)
    pad = draw(st.sampled_from(["", " ", "  ", "\t"]))
    return f"{pad}{head} {body} {ts}"


@settings(max_examples=200, deadline=None)
@given(corpus=st.lists(st.one_of(_lp_line(), st.sampled_from(
    ["", "# note", "m,=v f=1 5", "m f= 5", "m, f=1 5", "m  f=1 5"]
)), max_size=25))
def test_arrow_batch_differential(corpus):
    """The vectorized arrow batch parser must produce exactly the
    per-line reference path's rows, in original order, for ANY corpus
    (skip_malformed drops matching line-for-line; out-of-range
    ints/uints/timestamps reject per line on both paths). doc compares
    by json.loads — the two paths may pick different valid encodings of
    the same value. (Lines WITHOUT a timestamp are generated only in
    the spark e2e differential — their stamped time is
    nondeterministic.)"""
    import json

    import pyarrow as pa

    from quackpipe_spark.sources.lineproto import (
        _parse_batch_arrow,
        _parse_lines_py,
    )

    out_schema = pa.schema(
        [
            ("table", pa.string()),
            ("schema_id", pa.decimal128(20, 0)),
            ("schema_desc", pa.string()),
            ("doc", pa.string()),
            ("time", pa.int64()),
        ]
    )
    rb = _parse_batch_arrow(
        pa.array(corpus, type=pa.string()), out_schema, "ns", {}, None, True
    )
    kept, t, sid, desc, doc, tm = _parse_lines_py(corpus, "ns", {}, None, True)
    assert rb.column("table").to_pylist() == t
    assert [int(x) for x in rb.column("schema_id").to_pylist()] == sid
    assert rb.column("schema_desc").to_pylist() == desc
    got_docs = [json.loads(x) for x in rb.column("doc").to_pylist()]
    exp_docs = [json.loads(x) for x in doc]
    assert got_docs == exp_docs
    assert rb.column("time").to_pylist() == tm


def test_arrow_batch_leading_zero_numerics_match_per_line():
    """Leading-zero numerics ('007', '007i', '007u', '00.5') are
    protocol-legal (strconv parses them as 7 / 0.5) but INVALID JSON, so
    riding them verbatim into the vectorized doc made from_json null the
    whole row — a silent all-NULL divergence from the per-line path
    (review r14). The eligibility regexes now require a 0|[1-9]… integer
    part, routing such values to the per-line reference path: both paths
    must agree value-for-value."""
    import json

    import pyarrow as pa

    from quackpipe_spark.sources.lineproto import (
        _parse_batch_arrow,
        _parse_lines_py,
    )

    corpus = [
        "m f=007 1",
        "m i=007i 2",
        "m u=007u 3",
        "m f2=00.5 4",
        "m f3=-007 5",
        "m f4=0.5 6",     # single leading 0 before the dot: still eligible
        "m i2=0i 7",      # bare zero: still eligible
        "m u2=0u 8",
        "m f5=1e07 9",    # leading zero in the EXPONENT is valid JSON
    ]
    out_schema = pa.schema(
        [
            ("table", pa.string()),
            ("schema_id", pa.decimal128(20, 0)),
            ("schema_desc", pa.string()),
            ("doc", pa.string()),
            ("time", pa.int64()),
        ]
    )
    rb = _parse_batch_arrow(
        pa.array(corpus, type=pa.string()), out_schema, "ns", {}, None, True
    )
    kept, t, sid, desc, doc, tm = _parse_lines_py(corpus, "ns", {}, None, True)
    assert rb.column("table").to_pylist() == t
    # every doc must be VALID json and value-identical to the reference
    got_docs = [json.loads(x) for x in rb.column("doc").to_pylist()]
    exp_docs = [json.loads(x) for x in doc]
    assert got_docs == exp_docs
    assert any(d.get("f") == 7.0 for d in got_docs)  # 007 stored as 7, not dropped
    assert rb.column("time").to_pylist() == tm
