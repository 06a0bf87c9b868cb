"""Line-protocol parser unit tests — ports the reference's fingerprint
invariants (lineproto_parser_test.go:8-54) plus format-edge coverage."""

from __future__ import annotations

import pytest

from quackpipe_spark.sources.lineproto import (
    parse_line,
    parse_lines,
    schema_id,
)


def test_parse_readme_weather_line():
    # README.md:71-75 canonical demo line
    m, tags, fields, ts = parse_line(
        "weather,location=us-midwest,season=summer temperature=82 1465839830100400200"
    )
    assert m == "weather"
    assert tags == [("location", "us-midwest"), ("season", "summer")]
    assert fields == [("temperature", "FLOAT8", 82.0)]
    assert ts == 1465839830100400200


def test_field_types():
    _, _, fields, _ = parse_line('m v_f=1.5,v_i=7i,v_u=8u,v_s="hi there",v_b=true')
    assert dict((n, (t, v)) for n, t, v in fields) == {
        "v_f": ("FLOAT8", 1.5),
        "v_i": ("INT8", 7),
        "v_u": ("UBIGINT", 8),
        "v_s": ("VARCHAR", "hi there"),
        "v_b": ("BOOLEAN", True),
    }


def test_escaping():
    m, tags, fields, _ = parse_line(
        'my\\ table,tag\\ key=va\\,lue str="quote \\" and \\\\ slash" 1'
    )
    assert m == "my table"
    assert tags == [("tag key", "va,lue")]
    assert fields[0][2] == 'quote " and \\ slash'


def test_precision_scaling():
    for prec, mult in [("s", 10**9), ("ms", 10**6), ("us", 10**3), ("ns", 1)]:
        _, _, _, ts = parse_line("m v=1 5", precision=prec)
        assert ts == 5 * mult


def test_malformed_lines_raise():
    for bad in ["", "justname", "m novalue", "m ,=broken"]:
        with pytest.raises(ValueError):
            parse_line(bad)


@pytest.mark.parametrize(
    "line", ["m f=1, 5", "m,t=a\\ b f=1, 5", 'm s="x", 5', 'm,t=a\\ b s="x", 5']
)
def test_trailing_field_comma_rejected_on_every_route(line):
    """A trailing comma in the field section leaves an empty last field,
    whichever route parses the line: plain, quoted (a string field) or
    the general scanner (an escape)."""
    with pytest.raises(ValueError, match="malformed field ''"):
        parse_line(line)


# -- schema fingerprint invariants (TestGetSchemaId parity) -----------------

def test_schema_id_order_invariant():
    a = schema_id(["t1", "t2"], {"f1": "FLOAT8", "f2": "INT8"})
    b = schema_id(["t2", "t1"], {"f2": "INT8", "f1": "FLOAT8"})
    assert a == b


def test_schema_id_type_sensitive():
    a = schema_id(["t"], {"f": "FLOAT8"})
    b = schema_id(["t"], {"f": "INT8"})
    assert a != b


def test_schema_id_tag_vs_field_move():
    # a key moving between tags and fields keeps the id only if its type
    # stays VARCHAR (tags are strings) — the reference's hash combines
    # key+typecode exactly the same way for both (getSchemaId).
    as_tag = schema_id(["k"], {"f": "FLOAT8"})
    as_str_field = schema_id([], {"k": "VARCHAR", "f": "FLOAT8"})
    as_int_field = schema_id([], {"k": "INT8", "f": "FLOAT8"})
    assert as_tag == as_str_field
    assert as_tag != as_int_field


def test_batch_split_on_schema_change():
    lines = "\n".join(
        [
            "weather,loc=a temperature=1 1",
            "weather,loc=b temperature=2 2",
            "weather,loc=c temperature=3i 3",  # type change → new batch
            "weather temperature=4 4",  # tag set change → new batch
            "other,loc=d temperature=5 5",  # table change → new batch
        ]
    )
    batches = parse_lines(lines)
    assert [b.num_rows() for b in batches] == [2, 1, 1, 1]
    assert batches[0].table == "weather" and batches[-1].table == "other"
    assert batches[0].data["loc"] == ["a", "b"]
    assert batches[0].data["time"] == [1, 2]


def test_batch_interleave_resplit():
    # alternating schemas never merge (order matters — stream semantics)
    lines = ["m a=1 1", "m b=2 2", "m a=3 3"]
    batches = parse_lines(lines)
    assert len(batches) == 3


def test_auto_timestamp_when_missing():
    batches = parse_lines("m v=1")
    assert batches[0].data["time"][0] > 1_600_000_000 * 10**9  # plausible ns


def test_quote_in_tag_value_is_literal():
    """The protocol gives '\"' no meaning outside field values: a quote
    in a tag value must not swallow the section separator."""
    from quackpipe_spark.sources.lineproto import parse_line

    m, tags, fields, ts = parse_line('cpu,host=web"1 usage=1 1700000000000000000')
    assert m == "cpu" and tags == [("host", 'web"1')]
    assert fields == [("usage", "FLOAT8", 1.0)]
    assert ts == 1_700_000_000_000_000_000


def test_extra_tokens_after_timestamp_rejected():
    from quackpipe_spark.sources.lineproto import parse_line

    import pytest as _pytest

    with _pytest.raises(ValueError, match="after timestamp"):
        parse_line("m f=1 123 456")


def test_negative_unsigned_field_rejected():
    from quackpipe_spark.sources.lineproto import parse_line

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsigned"):
        parse_line("m f=-5u")


def test_parse_lines_df_parses_each_line_exactly_once(spark):
    """The single-pass contract: a corpus with S schema shapes costs ONE
    python parse per line, not S+1 — discovery and every per-fingerprint
    frame project the same persisted parse. Consuming ALL frames must
    leave the accumulator at exactly n_lines."""
    from quackpipe_spark.sources.lineproto import parse_lines_df

    lines = [
        "weather,location=us-east temperature=75.0 1465839830100400201",
        "weather,location=us-west temperature=48.0,humidity=0.61 1465839830100400202",
        "metrics,host=db-01 mem_bytes=1073741824i,uptime=7200i 1700000000000000000",
        "weather,location=us-mid temperature=82.0 1465839830100400200",
        "metrics,host=db-02 mem_bytes=536870912i,uptime=3600i 1700000001000000000",
    ]
    lines_df = spark.createDataFrame([(l,) for l in lines], "value string").repartition(3)
    acc = spark.sparkContext.accumulator(0)
    with parse_lines_df(spark, lines_df, parse_counter=acc) as frames:
        # 3 distinct fingerprints: weather 1-field, weather 2-field, metrics
        assert len(frames) == 3
        total = sum(df.count() for (_t, _sid, df) in frames)
    assert total == len(lines)
    # ONE parse per line: discovery materialized the cache, the three
    # frame counts read it — the old design would sit at 4x here
    assert acc.value == len(lines)


def test_parse_lines_df_typed_values_roundtrip(spark):
    """The generic-intermediate projection preserves exact typed values:
    float (incl. scientific), int, wrapped uint64, bool, quoted string
    with escapes, and per-row timestamps."""
    from quackpipe_spark.sources.lineproto import parse_lines_df

    big = (1 << 64) - 3
    lines = [
        f'm,tag=a f=1.5e-3,n=-7i,u={big}u,b=true,s="x\\"y" 1700000000000000001',
        'm,tag=b f=2.25,n=9i,u=5u,b=false,s="z" 1700000000000000002',
    ]
    lines_df = spark.createDataFrame([(l,) for l in lines], "value string")
    with parse_lines_df(spark, lines_df) as frames:
        assert len(frames) == 1
        (_t, _sid, df) = frames[0]
        rows = {r["tag"]: r for r in df.collect()}
    a, b = rows["a"], rows["b"]
    assert a["f"] == 1.5e-3 and b["f"] == 2.25
    assert a["n"] == -7 and b["n"] == 9
    assert a["u"] == big - (1 << 64) and b["u"] == 5  # two's-complement wrap
    assert a["b"] is True and b["b"] is False
    assert a["s"] == 'x"y' and b["s"] == "z"
    assert a["time"] == 1700000000000000001
