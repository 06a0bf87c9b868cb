"""Arrow result batches rendered as the JSON rows of the /query response.

A row is rendered exactly as ``json.dumps(row.asDict(recursive=True),
default=str)`` renders the same Spark value collected as a ``Row`` — the
bytes the row-by-row response sent. :func:`row_form` covers the forms in
which ``to_pylist`` and ``Row`` differ: time zones, decimals, binary,
variants and map key order.
"""

from __future__ import annotations

import datetime
import json
import math
import struct
from decimal import Decimal

import pyarrow as pa
from pyspark.sql.types import TimestampType, VariantVal

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_US = datetime.timedelta(microseconds=1)
_M32 = 0xFFFFFFFF


def _java_hash_str(s: str) -> int:
    """``String.hashCode`` over UTF-16 code units, as an unsigned int."""
    h = 0
    for ch in s:
        c = ord(ch)
        if c > 0xFFFF:  # a surrogate pair
            c -= 0x10000
            h = (31 * h + 0xD800 + (c >> 10)) & _M32
            c = 0xDC00 + (c & 0x3FF)
        h = (31 * h + c) & _M32
    return h


def _java_hash_long(v: int) -> int:
    u = v & 0xFFFFFFFFFFFFFFFF
    return (u ^ (u >> 32)) & _M32


def _java_hash_double(v: float) -> int:
    bits = 0x7FF8000000000000 if v != v else struct.unpack("<Q", struct.pack("<d", v))[0]
    return _java_hash_long(bits)


def _java_hash_float(v: float) -> int:
    return 0x7FC00000 if v != v else struct.unpack("<I", struct.pack("<f", v))[0]


def _float_rank(v: float) -> tuple:
    """Sort key of ``Double.compareTo``: -0.0 before 0.0, NaN last."""
    return (v != v, v, math.copysign(1.0, v))


def _java_key(t: pa.DataType):
    """(``hashCode``, a sort key ordered as ``compareTo``) of the Java
    object a map key of Arrow type ``t`` is pickled from, or None for key
    types JSON can't render as keys."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _java_hash_str, lambda s: s.encode("utf-16-be")
    if pa.types.is_int64(t):
        return _java_hash_long, None
    if pa.types.is_integer(t):
        return (lambda v: v & _M32), None
    if pa.types.is_boolean(t):
        return (lambda v: 1231 if v else 1237), None
    if pa.types.is_float64(t):
        return _java_hash_double, _float_rank
    if pa.types.is_float32(t):
        return _java_hash_float, _float_rank
    return None


class _JavaHashMap:
    """The bins of a ``java.util.HashMap`` created for n keys and filled
    with them in order — how Spark hands a map to Python — following
    ``HashMap.putVal``/``resize``/``treeifyBin`` and ``TreeNode.putTreeVal``/
    ``treeify``/``split``/``balanceInsertion``: a bin reaching 9 keys in a
    table of 64 or more becomes a red-black tree, whose iteration order
    is its root first, then each key after its tree parent."""

    def __init__(self, keys: list, hash_fn, rank):
        n = len(keys)
        self.h = []
        for k in keys:
            u = hash_fn(k)
            u ^= u >> 16
            self.h.append(u - (1 << 32) if u & 0x80000000 else u)  # Java compares them signed
        self.rank = [rank(k) if rank else k for k in keys]
        self.left, self.right = [None] * n, [None] * n
        self.parent, self.red = [None] * n, [False] * n
        self.cap = 1 << (n - 1).bit_length() if n else 1
        self.bins: dict[int, list[int]] = {}  # bin → its keys in iteration order
        self.roots: dict[int, int] = {}  # tree bin → its root
        for i in range(n):
            self._put(i)
            if i + 1 > self.cap * 3 // 4:
                self._resize()

    def order(self) -> list[int]:
        return [x for b in sorted(self.bins) for x in self.bins[b]]

    def _put(self, x: int) -> None:
        b = self.h[x] & (self.cap - 1)
        keys = self.bins.setdefault(b, [])
        if b in self.roots:
            keys.insert(keys.index(self._descend(self.roots[b], x)) + 1, x)
            self.roots[b] = self._front(keys, self._balance(self.roots[b], x))
        else:
            keys.append(x)
            if len(keys) >= 9:
                if self.cap < 64:
                    self._resize()
                else:
                    self.roots[b] = self._treeify(keys)

    def _resize(self) -> None:
        old, bins, roots = self.cap, self.bins, self.roots
        self.cap, self.bins, self.roots = old * 2, {}, {}
        for b, keys in bins.items():
            lo = [x for x in keys if not self.h[x] & old]
            hi = [x for x in keys if self.h[x] & old]
            for nb, part, other in ((b, lo, hi), (b + old, hi, lo)):
                if part:
                    self.bins[nb] = part
                    if b in roots and len(part) > 6:
                        self.roots[nb] = self._treeify(part) if other else roots[b]

    def _treeify(self, keys: list[int]) -> int:
        root = None
        for x in keys:
            self.left[x] = self.right[x] = None
            if root is None:
                self.parent[x], self.red[x], root = None, False, x
            else:
                self._descend(root, x)
                root = self._balance(root, x)
        return self._front(keys, root)

    @staticmethod
    def _front(keys: list[int], root: int) -> int:
        keys.remove(root)
        keys.insert(0, root)
        return root

    def _descend(self, p: int, x: int) -> int:
        """Link ``x`` below the tree rooted at ``p``; return its parent."""
        h = self.h
        while True:
            go_left = h[p] > h[x] if h[p] != h[x] else self.rank[x] <= self.rank[p]
            child = self.left[p] if go_left else self.right[p]
            if child is None:
                (self.left if go_left else self.right)[p] = x
                self.parent[x] = p
                return p
            p = child

    def _rotate(self, root: int, p: int, to_left: bool) -> int:
        # to_left: rotateLeft (p's right child rises), else rotateRight
        up_side, down_side = (self.right, self.left) if to_left else (self.left, self.right)
        r = up_side[p]
        if r is None:
            return root
        moved = up_side[p] = down_side[r]
        if moved is not None:
            self.parent[moved] = p
        pp = self.parent[r] = self.parent[p]
        if pp is None:
            root, self.red[r] = r, False
        elif down_side[pp] == p:
            down_side[pp] = r
        else:
            up_side[pp] = r
        down_side[r], self.parent[p] = p, r
        return root

    def _balance(self, root: int, x: int) -> int:
        red, parent = self.red, self.parent
        red[x] = True
        while True:
            xp = parent[x]
            if xp is None:
                red[x] = False
                return x
            xpp = parent[xp]
            if not red[xp] or xpp is None:
                return root
            on_left = xp == self.left[xpp]
            uncle = self.right[xpp] if on_left else self.left[xpp]
            if uncle is not None and red[uncle]:
                red[uncle] = red[xp] = False
                red[xpp] = True
                x = xpp
                continue
            if x == (self.right[xp] if on_left else self.left[xp]):
                x = xp
                root = self._rotate(root, x, to_left=on_left)
                xp = parent[x]
                xpp = None if xp is None else parent[xp]
            if xp is not None:
                red[xp] = False
                if xpp is not None:
                    red[xpp] = True
                    root = self._rotate(root, xpp, to_left=not on_left)


def row_form(t: pa.DataType, bytes_ok: bool):
    """A function from one ``to_pylist`` value of Arrow type ``t`` to the
    value ``Row.asDict(recursive=True)`` holds for the same Spark value,
    or None where the two agree. ``bytes_ok``: the session's
    ``spark.sql.execution.pyspark.binaryAsBytes``. Raises for a type
    that has no Row form."""
    if pa.types.is_timestamp(t) and t.tz is not None:
        # Spark's TIMESTAMP arrives as UTC; rows hold naive local time
        local = TimestampType().fromInternal
        return lambda v: v if v is None else local((v - _EPOCH) // _US)
    if pa.types.is_interval(t):
        # a CALENDAR INTERVAL has no Row form: the row path raised too
        raise NotImplementedError("CalendarIntervalType has no JSON form")
    if pa.types.is_decimal(t):
        # rows hold decimal.Decimal(BigDecimal.toEngineeringString())
        return lambda v: v if v is None else Decimal(v.to_eng_string())
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return None if bytes_ok else (lambda v: v if v is None else bytearray(v))
    if pa.types.is_map(t):
        key, item = row_form(t.key_type, bytes_ok), row_form(t.item_type, bytes_ok)
        java = _java_key(t.key_type)

        def as_dict(v):
            if v is None:
                return v
            if java:
                v = [v[i] for i in _JavaHashMap([k for k, _ in v], *java).order()]
            if key or item:
                v = [(key(k) if key else k, item(x) if item else x) for k, x in v]
            return dict(v)

        return as_dict
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = row_form(t.value_type, bytes_ok)
        return elem and (lambda v: v if v is None else [elem(x) for x in v])
    if pa.types.is_struct(t):
        if t.num_fields == 2 and (t.field(1).metadata or {}).get(b"variant") == b"true":
            return lambda v: v if v is None else VariantVal(v["value"], v["metadata"])
        forms = [(f.name, row_form(f.type, bytes_ok)) for f in t]
        if not any(f for _, f in forms):
            return None
        return lambda v: v if v is None else {n: f(v[n]) if f else v[n] for n, f in forms}
    return None


def json_rows(batch: pa.RecordBatch, forms: list) -> str:
    """The rows of ``batch`` as JSON objects joined by ", " — the bytes
    ``json.dumps(row.asDict(recursive=True), default=str)`` gave per row
    (``forms``: one :func:`row_form` per column)."""
    cols = []
    for col, form in zip(batch.columns, forms):
        vals = col.to_pylist()
        cols.append(vals if form is None else [form(v) for v in vals])
    names = batch.schema.names
    rows = [dict(zip(names, vals)) for vals in zip(*cols)] if cols else [{}] * batch.num_rows
    return json.dumps(rows, default=str)[1:-1]
