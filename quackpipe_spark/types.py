"""The reference's 4-type system + alias map (parity with
/root/reference/merge/data_types/data_types.go:26-47).

Canonical physical types are Int64 / UInt64 / Float64 / String; every DDL
alias normalizes onto one of them. We additionally support Boolean — the
reference's line-protocol parser appends bools but its column wrapper has
no []bool case so boolean ingest errors out (lineproto_parser.go:76-77 vs
data_types.go:12-24); we close that gap as a strict superset (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
)

# canonical name → Spark type. UBIGINT maps to LongType: Spark has no
# unsigned 64-bit; the reference itself funnels uint64 through an int64
# Arrow slot (uint64.go:13), so the >2^63 wrap caveat is shared.
CANONICAL: dict[str, DataType] = {
    "INT8": LongType(),
    "UBIGINT": LongType(),
    "FLOAT8": DoubleType(),
    "VARCHAR": StringType(),
    "BOOLEAN": BooleanType(),  # superset (see module docstring)
}

# alias → canonical, from data_types.go:32-47 (case-insensitive match).
ALIASES: dict[str, str] = {
    "INT8": "INT8",
    "INT64": "INT8",
    "BIGINT": "INT8",
    "LONG": "INT8",
    "UBIGINT": "UBIGINT",
    "UINT64": "UBIGINT",
    "FLOAT8": "FLOAT8",
    "FLOAT64": "FLOAT8",
    "DOUBLE": "FLOAT8",
    "VARCHAR": "VARCHAR",
    "STRING": "VARCHAR",
    "CHAR": "VARCHAR",
    "BPCHAR": "VARCHAR",
    "TEXT": "VARCHAR",
    "BOOLEAN": "BOOLEAN",
    "BOOL": "BOOLEAN",
}

# python runtime value type → canonical (ingest-side inference,
# mirroring lineproto appendData's switch, lineproto_parser.go:66-91).
PY_TO_CANONICAL = {
    int: "INT8",
    float: "FLOAT8",
    str: "VARCHAR",
    bool: "BOOLEAN",
}


def resolve(type_name: str) -> str:
    """DDL type name → canonical name (raises on unknown, matching the
    reference's create-table validation)."""
    canon = ALIASES.get(type_name.strip().upper())
    if canon is None:
        raise ValueError(f"unknown type: {type_name!r} (accepted: {sorted(ALIASES)})")
    return canon


def infer_canonical(value) -> str:
    """Infer canonical type of a python scalar (bool before int: bool is an
    int subclass in python)."""
    if isinstance(value, bool):
        return "BOOLEAN"
    if isinstance(value, int):
        # ints beyond int64 are the uint64 upper half (line protocol's
        # `u` form; the writer wraps them through the int64 slot like the
        # reference, uint64.go:13); anything outside uint64 is rejected
        # rather than silently truncated
        if value > (1 << 64) - 1 or value < -(1 << 63):
            raise TypeError(f"integer {value} outside int64/uint64 range")
        return "UBIGINT" if value >= (1 << 63) else "INT8"
    for py, canon in PY_TO_CANONICAL.items():
        if isinstance(value, py):
            return canon
    raise TypeError(f"unsupported ingest value type: {type(value).__name__}")
