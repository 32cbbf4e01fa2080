"""Pure-Python Avro *binary* codec — the runtime half of the reference's
``serialization/avro_codec.rs`` (1,148 LoC: decimal logical types, schema
evolution via reader/writer resolution, nullable unions).

Why pure Python: this environment ships neither the spark-avro connector jar
nor a Python avro library, so ``from_avro`` can never execute here.  The Avro
binary encoding is a small, fully-public specification (Avro 1.11.x spec,
"Binary encoding"): zigzag-varint longs, length-prefixed bytes/strings,
records as field concatenation, 1-byte union branch indexes, block-encoded
arrays/maps.  Implementing it directly gives a *real*, testable decode path:

- ``AvroBinaryCodec.encode/decode`` for single records (the public
  single-record API, and the reference the batch kernel is tested against);
- the vectorised ``decode_avro_batch`` kernel — one numpy pass per field over
  an Arrow batch's value buffer, no per-record Python — behind the
  Spark-level ``df_decode_avro``: the scale path.

Every Spark stage here (``df_decode_avro``, ``df_encode_avro``,
``df_roundtrip_avro``) is one ``mapInArrow``: encode takes each Arrow batch's
rows as Python values, decode runs the kernel.

Schema resolution follows the spec's rules (the reference's "schema
evolution" feature) and is decided once per schema pair, by ``_resolve``:
fields are matched by name; reader-only fields take their default;
writer-only fields are decoded and discarded; numeric promotions
int→long→float→double and string↔bytes apply. Both decoders walk the tree
it returns.

Logical types mirror the reference codec: ``decimal`` (bytes/fixed,
two's-complement big-endian unscaled int → ``Decimal`` — the ScaledInteger
exact-arithmetic path), ``date`` (days), ``timestamp-millis/micros``.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import decimal as _decimal
import functools
import json
import struct
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa

__all__ = [
    "AvroBinaryCodec",
    "decode_avro_batch",
    "decode_framed_batch",
    "df_decode_avro",
    "df_encode_avro",
]

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=_dt.timezone.utc)
_MILLI = _dt.timedelta(milliseconds=1)
_MICRO = _dt.timedelta(microseconds=1)
#: int/long logical type → (epoch, unit): the value n stands for epoch + n·unit
_INT_EPOCHS = {
    "date": (_EPOCH_DATE, _dt.timedelta(days=1)),
    "timestamp-millis": (_EPOCH, _MILLI),
    "timestamp-micros": (_EPOCH, _MICRO),
}


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------


def _type_name(schema: Any) -> str:
    """Canonical type name for resolution matching."""
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema.get("type", "")


def _non_null_branch(union: list) -> Any:
    branches = [b for b in union if _type_name(b) != "null"]
    if len(branches) != 1:
        raise ValueError(f"unsupported non-nullable union: {union!r}")
    return branches[0]


_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


# ---------------------------------------------------------------------------
# compiled codec — schema walked ONCE into per-field closures
# ---------------------------------------------------------------------------

_S_F4 = struct.Struct("<f")
_S_D8 = struct.Struct("<d")


def _append_zlong(buf: bytearray, n: int) -> None:
    """Zigzag varint append (spec (n<<1)^(n>>63); Python ints are unbounded
    so >>127 yields the same 0/-1 sign mask)."""
    z = (n << 1) ^ (n >> 127)
    while z > 0x7F:
        buf.append((z & 0x7F) | 0x80)
        z >>= 7
    buf.append(z)


def _zlong_bytes(n: int) -> bytes:
    buf = bytearray()
    _append_zlong(buf, n)
    return bytes(buf)


def _read_zlong_at(data: bytes, pos: int) -> tuple[int, int]:
    b = data[pos]
    if b < 0x80:
        return (b >> 1) ^ -(b & 1), pos + 1
    acc = b & 0x7F
    shift = 7
    pos += 1
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if b < 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


def _branch_accepts(schema: Any):
    """Python-type predicate for selecting a union branch at encode time."""
    t = _type_name(schema)
    logical = schema.get("logicalType") if isinstance(schema, dict) else None
    if t == "boolean":
        return lambda v: isinstance(v, bool)
    if t in ("int", "long"):
        if logical == "date":
            return lambda v: isinstance(v, _dt.date) and not isinstance(
                v, _dt.datetime
            ) or (isinstance(v, int) and not isinstance(v, bool))
        if logical in ("timestamp-millis", "timestamp-micros"):
            return lambda v: isinstance(v, _dt.datetime) or (
                isinstance(v, int) and not isinstance(v, bool)
            )
        return lambda v: isinstance(v, int) and not isinstance(v, bool)
    if t in ("float", "double"):
        return lambda v: isinstance(v, float)
    if t in ("string", "enum"):
        return lambda v: isinstance(v, str)
    if t in ("bytes", "fixed"):
        if logical == "decimal":
            return lambda v: isinstance(v, (_decimal.Decimal, bytes, bytearray))
        return lambda v: isinstance(v, (bytes, bytearray))
    if t == "record":
        return lambda v: isinstance(v, dict)
    if t == "map":  # a dict, or the (key, value) pairs of an Arrow map
        return lambda v: isinstance(v, dict) or (
            isinstance(v, list) and all(isinstance(e, tuple) and len(e) == 2 for e in v)
        )
    if t == "array":
        return lambda v: isinstance(v, (list, tuple))
    return lambda v: False


def _compile_write(schema: Any):
    """Schema → ``write(buf: bytearray, value)`` closure. All type/logical
    dispatch happens here, once; the closure does no schema inspection."""
    t = _type_name(schema)
    if t == "union":
        null_idx = next(
            (i for i, b in enumerate(schema) if _type_name(b) == "null"), None
        )
        null_head = _zlong_bytes(null_idx) if null_idx is not None else None
        non_null = [(i, b) for i, b in enumerate(schema) if _type_name(b) != "null"]
        if len(non_null) == 1:
            idx, branch = non_null[0]
            branch_head = _zlong_bytes(idx)
            wb = _compile_write(branch)

            def w(buf, v, nh=null_head, bh=branch_head, wb=wb):
                if v is None:
                    if nh is None:
                        raise ValueError("None for non-nullable union")
                    buf += nh
                else:
                    buf += bh
                    wb(buf, v)
            return w
        # Multi-branch union: pick the branch by the Python value's type, in
        # schema order (the spec leaves selection to the writer; first
        # type-compatible branch mirrors fastavro's validate-in-order).
        table = [
            (_branch_accepts(b), _zlong_bytes(i), _compile_write(b))
            for i, b in non_null
        ]

        def w(buf, v, nh=null_head, table=table, schema=schema):
            if v is None:
                if nh is None:
                    raise ValueError("None for non-nullable union")
                buf += nh
                return
            for accepts, head, wb in table:
                if accepts(v):
                    buf += head
                    wb(buf, v)
                    return
            raise ValueError(
                f"value {v!r} matches no branch of union {schema!r}"
            )
        return w
    if t == "null":
        def w(buf, v):
            if v is not None:
                raise ValueError("non-null value for null schema")
        return w
    if t == "boolean":
        def w(buf, v):
            buf.append(1 if v else 0)
        return w
    if t in ("int", "long"):
        logical = schema.get("logicalType") if isinstance(schema, dict) else None
        if logical in _INT_EPOCHS:
            epoch, unit = _INT_EPOCHS[logical]

            def w(buf, v, epoch=epoch, unit=unit):
                if isinstance(v, _dt.date):
                    # an aware datetime is the instant it names, a naive one UTC
                    v = (v - (_EPOCH_UTC if getattr(v, "tzinfo", None) else epoch)) // unit
                _append_zlong(buf, int(v))
        else:
            def w(buf, v):
                _append_zlong(buf, int(v))
        return w
    if t == "float":
        def w(buf, v, pk=_S_F4.pack):
            buf += pk(float(v))
        return w
    if t == "double":
        def w(buf, v, pk=_S_D8.pack):
            buf += pk(float(v))
        return w
    if t == "bytes":
        if isinstance(schema, dict) and schema.get("logicalType") == "decimal":
            scale = schema.get("scale", 0)

            def w(buf, v, scale=scale):
                data = _decimal_unscaled_bytes(v, scale)
                _append_zlong(buf, len(data))
                buf += data
        else:
            def w(buf, v):
                data = bytes(v)
                _append_zlong(buf, len(data))
                buf += data
        return w
    if t == "string":
        def w(buf, v):
            data = str(v).encode("utf-8")
            _append_zlong(buf, len(data))
            buf += data
        return w
    if t == "record":
        fields = [
            (f["name"], "default" in f, f.get("default"), _compile_write(f["type"]))
            for f in schema["fields"]
        ]

        def w(buf, v, fields=tuple(fields)):
            for name, has_d, d, wf in fields:
                if name in v:
                    wf(buf, v[name])
                elif has_d:
                    wf(buf, d)
                else:
                    raise ValueError(f"missing field {name!r} with no default")
        return w
    if t == "enum":
        heads = {sym: _zlong_bytes(i) for i, sym in enumerate(schema["symbols"])}

        def w(buf, v, heads=heads):
            h = heads.get(v)
            if h is None:
                raise ValueError(f"{v!r} is not in enum symbols")
            buf += h
        return w
    if t == "array":
        wi = _compile_write(schema["items"])

        def w(buf, v, wi=wi):
            items = list(v)
            if items:
                _append_zlong(buf, len(items))
                for it in items:
                    wi(buf, it)
            buf.append(0)
        return w
    if t == "map":
        wv = _compile_write(schema["values"])

        def w(buf, v, wv=wv):
            entries = dict(v)
            if entries:
                _append_zlong(buf, len(entries))
                for k, mv in entries.items():
                    data = str(k).encode("utf-8")
                    _append_zlong(buf, len(data))
                    buf += data
                    wv(buf, mv)
            buf.append(0)
        return w
    if t == "fixed":
        size = schema["size"]
        is_dec = isinstance(schema, dict) and schema.get("logicalType") == "decimal"

        def w(buf, v, size=size, is_dec=is_dec, schema=schema):
            data = _decimal_to_fixed(v, schema) if is_dec else bytes(v)
            if len(data) != size:
                raise ValueError("fixed size mismatch")
            buf += data
        return w
    raise ValueError(f"unsupported avro type for encode: {schema!r}")


def _match_branch(reader_union: list, writer_branch: Any) -> Any:
    wname = _type_name(writer_branch)
    for b in reader_union:
        if _type_name(b) == wname:
            return b
    for b in reader_union:  # promotion match
        if _type_name(b) in _PROMOTIONS.get(wname, ()):
            return b
    raise ValueError(f"no reader branch for writer type {wname!r}")


def _coerce_default(default: Any, schema: Any) -> Any:
    """Apply a reader-schema default (spec: defaults are JSON-typed)."""
    t = _type_name(schema)
    if t == "union":
        # spec: default corresponds to the FIRST branch
        return _coerce_default(default, schema[0])
    if t == "null":
        return None
    if t in ("bytes", "fixed") and isinstance(schema, dict) and schema.get(
        "logicalType"
    ) == "decimal":
        raw = default.encode("latin-1") if isinstance(default, str) else bytes(default)
        return _bytes_to_decimal(raw, schema.get("scale", 0))
    if t == "bytes" and isinstance(default, str):
        return default.encode("latin-1")  # spec: bytes defaults are \u00XX strings
    if t in ("int", "long") and isinstance(schema, dict):
        if schema.get("logicalType") in _INT_EPOCHS:
            epoch, unit = _INT_EPOCHS[schema["logicalType"]]
            return epoch + unit * int(default)
    return default


@dataclasses.dataclass
class _Resolved:
    """A (writer, reader) schema pair after resolution: all that a decoder
    needs to know, so that no decoder looks at a schema."""

    kind: str  #: the writer's type; "error" for a branch the reader cannot take
    to: str = ""  #: the reader's type: the promotion target
    logical: str | None = None  #: the reader's logical type
    scale: int = 0  #: the reader's decimal scale
    size: int = 0  #: fixed: the byte size
    #: record: (name, node) per writer field; name None for a writer-only
    #: field, which is read past and dropped
    fields: tuple = ()
    defaults: tuple = ()  #: record: (name, coerced default) per reader-only field
    branches: tuple = ()  #: union: a node per writer branch
    symbols: tuple = ()  #: enum: the writer's symbols
    known: tuple = ()  #: enum: per writer symbol, whether the reader has it
    items: _Resolved | None = None  #: array items / map values
    error: str = ""  #: error: raised when a datum takes this branch

    def complete(self) -> bool:
        """True if every datum of the writer schema resolves."""
        kids = [n for _, n in self.fields] + list(self.branches)
        if self.items is not None:
            kids.append(self.items)
        return self.kind != "error" and all(self.known) and all(n.complete() for n in kids)


def _resolve(writer: Any, reader: Any) -> _Resolved:
    """The spec's schema-resolution rules applied to a (writer, reader)
    schema pair, once. Raises ValueError for a pair that cannot resolve,
    except in a writer union: a branch the reader cannot take becomes an
    error node, which fails only if a datum takes it (per spec)."""
    wt, rt = _type_name(writer), _type_name(reader)
    if wt == "union":
        branches = []
        for wbranch in writer:
            try:
                rbranch = _match_branch(reader, wbranch) if rt == "union" else reader
                branches.append(_resolve(wbranch, rbranch))
            except ValueError as e:
                branches.append(_Resolved("error", error=str(e)))
        return _Resolved("union", branches=tuple(branches))
    if rt == "union":
        return _resolve(writer, _match_branch(reader, writer))
    if wt == "record":
        if rt != "record":
            raise ValueError(f"cannot resolve record into {rt}")
        rfields = {f["name"]: f for f in reader["fields"]}
        fields = []
        for wf in writer["fields"]:
            name = wf["name"]
            if name in rfields:
                fields.append((name, _resolve(wf["type"], rfields[name]["type"])))
            else:  # writer-only: decoded to advance the stream, discarded
                fields.append((None, _resolve(wf["type"], wf["type"])))
        written = {wf["name"] for wf in writer["fields"]}
        defaults = []
        for rf in reader["fields"]:
            if rf["name"] not in written:
                if "default" not in rf:
                    raise ValueError(
                        f"reader field {rf['name']!r} missing from writer "
                        "and has no default"
                    )
                defaults.append((rf["name"], _coerce_default(rf["default"], rf["type"])))
        return _Resolved("record", fields=tuple(fields), defaults=tuple(defaults))
    if wt != rt and rt not in _PROMOTIONS.get(wt, ()):
        raise ValueError(f"cannot promote {wt!r} to {rt!r}")
    if wt in ("array", "map"):
        key = "items" if wt == "array" else "values"
        return _Resolved(wt, items=_resolve(writer[key], reader[key]))
    if wt == "enum":
        known = set(reader["symbols"])
        symbols = tuple(writer["symbols"])
        return _Resolved("enum", symbols=symbols, known=tuple(s in known for s in symbols))
    if wt not in _ARROW_PRIMITIVES:
        raise ValueError(f"unsupported avro type for decode: {writer!r}")
    logical = reader.get("logicalType") if isinstance(reader, dict) else None
    if logical == "decimal" and wt == "string":
        raise ValueError("cannot resolve string as decimal")
    if wt == "fixed" and writer["size"] != reader["size"]:
        raise ValueError(f"cannot resolve fixed({writer['size']}) as fixed({reader['size']})")
    return _Resolved(
        wt,
        to=rt,
        logical=logical,
        scale=reader.get("scale", 0) if logical == "decimal" else 0,
        size=writer["size"] if wt == "fixed" else 0,
    )


def _compile_read(node: _Resolved):
    """Resolved schema pair → ``read(data, pos) -> (value, pos)`` closure."""
    k = node.kind
    if k == "error":
        def rd(data, pos, msg=node.error):
            raise ValueError(msg)
        return rd
    if k == "union":
        def rd(data, pos, branches=tuple(_compile_read(b) for b in node.branches)):
            idx, pos = _read_zlong_at(data, pos)
            if not 0 <= idx < len(branches):
                raise ValueError(f"union branch index {idx} out of range")
            return branches[idx](data, pos)
        return rd
    if k == "record":
        entries = tuple((name, _compile_read(n)) for name, n in node.fields)

        def rd(data, pos, entries=entries, defaults=node.defaults):
            out = {}
            for name, fr in entries:
                v, pos = fr(data, pos)
                if name is not None:
                    out[name] = v
            for name, dv in defaults:
                out[name] = dv
            return out, pos
        return rd
    if k == "null":
        return lambda data, pos: (None, pos)
    if k == "boolean":
        def rd(data, pos):
            return data[pos] == 1, pos + 1
        return rd
    if k in ("int", "long"):
        if node.to in ("float", "double"):
            def rd(data, pos):
                n, pos = _read_zlong_at(data, pos)
                return float(n), pos
        elif node.logical in _INT_EPOCHS:
            epoch, unit = _INT_EPOCHS[node.logical]

            def rd(data, pos, epoch=epoch, unit=unit):
                n, pos = _read_zlong_at(data, pos)
                return epoch + unit * n, pos
        else:
            rd = _read_zlong_at
        return rd
    if k in ("float", "double"):
        packer = _S_F4 if k == "float" else _S_D8

        def rd(data, pos, up=packer.unpack_from, width=packer.size, what=f"truncated {k}"):
            if pos + width > len(data):
                raise EOFError(what)
            return up(data, pos)[0], pos + width
        return rd
    scale = node.scale if node.logical == "decimal" else None
    if k in ("bytes", "string"):
        def rd(data, pos, scale=scale, to_str=node.to == "string"):
            n, pos = _read_zlong_at(data, pos)
            end = pos + n
            if end > len(data):
                raise EOFError("truncated bytes")
            raw = data[pos:end]
            if scale is not None:
                return _bytes_to_decimal(raw, scale), end
            return (raw.decode("utf-8") if to_str else raw), end
        return rd
    if k == "fixed":
        def rd(data, pos, size=node.size, scale=scale):
            end = pos + size
            if end > len(data):
                raise EOFError("truncated fixed")
            raw = data[pos:end]
            return (_bytes_to_decimal(raw, scale) if scale is not None else raw), end
        return rd
    if k == "enum":
        def rd(data, pos, symbols=node.symbols, known=node.known):
            idx, pos = _read_zlong_at(data, pos)
            if not 0 <= idx < len(symbols):
                raise ValueError(f"enum index {idx} out of range")
            if not known[idx]:
                raise ValueError(f"enum symbol {symbols[idx]!r} not in reader schema")
            return symbols[idx], pos
        return rd
    if k == "array":
        ri = _compile_read(node.items)

        def rd(data, pos, ri=ri):
            out = []
            while True:
                count, pos = _read_zlong_at(data, pos)
                if count == 0:
                    return out, pos
                if count < 0:  # block with byte-size prefix
                    count = -count
                    _, pos = _read_zlong_at(data, pos)
                for _i in range(count):
                    v, pos = ri(data, pos)
                    out.append(v)
        return rd
    if k == "map":
        rv = _compile_read(node.items)

        def rd(data, pos, rv=rv):
            out = {}
            while True:
                count, pos = _read_zlong_at(data, pos)
                if count == 0:
                    return out, pos
                if count < 0:
                    count = -count
                    _, pos = _read_zlong_at(data, pos)
                for _i in range(count):
                    n, pos = _read_zlong_at(data, pos)
                    k = data[pos : pos + n].decode("utf-8")
                    pos += n
                    out[k], pos = rv(data, pos)
        return rd


class AvroBinaryCodec:
    """Encode/decode dict records against an Avro record schema.

    ``reader_schema_json`` enables schema-resolution decoding (evolution):
    data written with ``writer`` is decoded into the shape of ``reader``.

    The schema pair is COMPILED ONCE into per-field closures (type dispatch,
    logical-type conversions, union branch tables, resolution matching all
    decided at construction); the per-record encode/decode loop reads bytes
    by index and appends to one bytearray — no BytesIO, no per-value schema
    inspection.
    """

    def __init__(self, writer_schema_json: str, reader_schema_json: str | None = None):
        self.writer = json.loads(writer_schema_json)
        self.reader = (
            json.loads(reader_schema_json) if reader_schema_json else self.writer
        )
        if _type_name(self.writer) != "record" or _type_name(self.reader) != "record":
            raise ValueError("top-level avro schema must be a record")
        # Compile the write closure lazily: encode support rejects some
        # schema shapes (unions with 2+ non-null branches) that the decoder
        # handles fine, and decode-only codecs must still construct.
        self._write = None
        self._read = _compile_read(_resolve(self.writer, self.reader))

    def encode(self, record: dict) -> bytes:
        if self._write is None:
            self._write = _compile_write(self.writer)
        buf = bytearray()
        self._write(buf, record)
        return bytes(buf)

    def decode(self, data: bytes) -> dict:
        try:
            value, _pos = self._read(bytes(data), 0)
        except IndexError:
            raise EOFError("truncated avro datum") from None
        return value


# ---------------------------------------------------------------------------
# decimal logical type — two's-complement big-endian unscaled int
# ---------------------------------------------------------------------------


#: scaleb rounds to its context's precision (28 digits by default); a
#: decimal(38) value needs all of its digits
_EXACT = _decimal.Context(prec=_decimal.MAX_PREC)


def _bytes_to_decimal(raw: bytes, scale: int) -> _decimal.Decimal:
    unscaled = int.from_bytes(raw, "big", signed=True) if raw else 0
    return _decimal.Decimal(unscaled).scaleb(-scale, _EXACT)


def _decimal_unscaled_bytes(value, scale: int) -> bytes:
    d = _decimal.Decimal(str(value)).scaleb(scale, _EXACT).to_integral_value(
        rounding=_decimal.ROUND_HALF_UP
    )
    n = int(d)
    length = max(1, (n.bit_length() + 8) // 8)  # +8 keeps the sign bit
    return n.to_bytes(length, "big", signed=True)


def _decimal_to_fixed(value, schema: dict) -> bytes:
    raw = _decimal_unscaled_bytes(value, schema.get("scale", 0))
    size = schema["size"]
    pad = b"\xff" if raw[0] & 0x80 else b"\x00"
    return pad * (size - len(raw)) + raw


# ---------------------------------------------------------------------------
# vectorised batch decode — one numpy pass per field over an Arrow batch
# ---------------------------------------------------------------------------
#
# Every row of a batch is a cursor into the Arrow value buffer. A compiled
# field decoder ``fn(st, idx)`` reads one datum at each cursor in ``idx``
# (an int64 row-index vector) for all of them at once and returns an Arrow
# array of len(idx) — or None when the field is only being skipped. Nested
# shapes select cursor subsets: a union decodes each branch on the rows that
# chose it, an array decodes item k on the rows that still have one.

_ARROW_PRIMITIVES = {
    "null": pa.null(),
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "bytes": pa.binary(),
    "string": pa.string(),
    "enum": pa.string(),
    "fixed": pa.binary(),
}

_INT32 = (-(2**31), 2**31 - 1)
_TS_MICROS = (-62_135_596_800_000_000, 253_402_300_799_999_999)
#: logical type → (value bounds, scale to the Arrow unit). The bounds are
#: the day / ms / µs spans of Python's date and datetime, which bound what
#: AvroBinaryCodec.decode can return.
_INT_LOGICAL = {
    "date": ((-719_162, 2_932_896), 1),
    "timestamp-millis": ((_TS_MICROS[0] // 1000, _TS_MICROS[1] // 1000), 1000),
    "timestamp-micros": (_TS_MICROS, 1),
}


def _arrow_type(schema: Any, tz: str | None = None) -> pa.DataType:
    """Arrow type of a decoded reader schema: ``codecs.avro_to_spark_type``
    in Arrow terms. Timestamps carry ``tz``: None gives tz-naive values like
    the codec's datetimes, "UTC" the layout Spark reads as TimestampType."""
    t = _type_name(schema)
    if t == "union":
        return _arrow_type(_non_null_branch(schema), tz)
    logical = schema.get("logicalType") if isinstance(schema, dict) else None
    if logical == "decimal":
        return pa.decimal128(schema.get("precision", 38), schema.get("scale", 0))
    if logical == "date":
        return pa.date32()
    if logical in ("timestamp-millis", "timestamp-micros"):
        return pa.timestamp("us", tz)
    if t == "record":
        return pa.struct(
            [pa.field(f["name"], _arrow_type(f["type"], tz)) for f in schema["fields"]]
        )
    if t == "array":
        return pa.list_(_arrow_type(schema["items"], tz))
    if t == "map":
        return pa.map_(pa.string(), _arrow_type(schema["values"], tz))
    if t not in _ARROW_PRIMITIVES:
        raise ValueError(f"unsupported avro schema: {schema!r}")
    return _ARROW_PRIMITIVES[t]


class _Cursors:
    """One batch being decoded: the value buffer (zero-padded so that the
    two 8-byte words a varint can span are readable from any position) and,
    per row, the read position and the end of that row's datum."""

    __slots__ = ("buf", "words", "pos", "end")

    def __init__(self, buf: np.ndarray, pos: np.ndarray, end: np.ndarray):
        self.buf = np.concatenate([buf, np.zeros(16, np.uint8)])
        # words[i]: the 8 bytes at buf[i:i+8] as one little-endian uint64
        self.words = np.ndarray((len(self.buf) - 7,), "<u8", self.buf, 0, (1,))
        self.pos, self.end = pos, end

    def at(self, pos: np.ndarray, end: np.ndarray) -> "_Cursors":
        """Cursors over the same buffer at other positions."""
        other = object.__new__(_Cursors)
        other.buf, other.words, other.pos, other.end = self.buf, self.words, pos, end
        return other


def _value_spans(values: pa.Array):
    """Binary Arrow array → (buffer, start, end, non-null row indices)."""
    n = len(values)
    large = pa.types.is_large_binary(values.type)
    _, off_buf, data_buf = values.buffers()
    offsets = np.frombuffer(off_buf, np.int64 if large else np.int32)
    offsets = offsets[values.offset : values.offset + n + 1].astype(np.int64)
    buf = np.frombuffer(data_buf, np.uint8) if data_buf else np.empty(0, np.uint8)
    if values.null_count:
        rows = np.flatnonzero(values.is_valid().to_numpy(zero_copy_only=False))
    else:
        rows = np.arange(n)
    return buf, offsets[:-1], offsets[1:], rows


def _check_range(v: np.ndarray, lo: int, hi: int, what: str) -> None:
    bad = (v < lo) | (v > hi)
    if bad.any():
        raise ValueError(f"{what} value {v[bad][0]} not in range: {lo} to {hi}")


_U = np.uint64
_CONT = _U(0x8080808080808080)


def _read_varints(st: _Cursors, idx: np.ndarray) -> np.ndarray:
    """Zigzag varint at each cursor → int64, cursors advanced. The first 8
    bytes at each cursor are gathered as one word; the lowest clear
    continuation bit marks the last byte, and three mask-and-shift steps
    pack the 7-bit groups below it. The rare 9- and 10-byte varints take
    their tail from the next word."""
    p = st.pos[idx]
    w = st.words[p]
    stop = ~w & _CONT
    last = stop & (~stop + _U(1))  # high bit of the last byte; 0 past 8 bytes
    x = w & ((last << _U(1)) - _U(1)) & _U(0x7F7F7F7F7F7F7F7F)
    x = (x & _U(0x007F007F007F007F)) | ((x >> _U(1)) & _U(0x3F803F803F803F80))
    x = (x & _U(0x00003FFF00003FFF)) | ((x >> _U(2)) & _U(0x0FFFC0000FFFC000))
    x = (x & _U(0x000000000FFFFFFF)) | ((x >> _U(4)) & _U(0x00FFFFFFF0000000))
    used = np.frexp(last.astype(np.float64))[1] >> 3
    wide = np.flatnonzero(last == 0)
    if wide.size:
        tail = st.words[p[wide] + 8]
        b8, b9 = tail & _U(0xFF), (tail >> _U(8)) & _U(0xFF)
        ten = b8 >= 0x80
        if (ten & (b9 > 1)).any():
            raise ValueError("varint does not fit in 64 bits")
        x[wide] |= ((b8 & _U(0x7F)) << _U(56)) | (np.where(ten, b9, _U(0)) << _U(63))
        used[wide] = 9 + ten
    if (p + used > st.end[idx]).any():
        raise EOFError("truncated varint")
    st.pos[idx] = p + used
    return (x >> _U(1)).view(np.int64) ^ -(x & _U(1)).view(np.int64)


def _advance(st: _Cursors, idx: np.ndarray, size, what: str) -> np.ndarray:
    """Claim ``size`` bytes at each cursor; returns their start positions."""
    start = st.pos[idx]
    stop = start + size
    if (stop > st.end[idx]).any():
        raise EOFError(f"truncated {what}")
    st.pos[idx] = stop
    return start


def _read_spans(st: _Cursors, idx: np.ndarray):
    """Length-prefixed spans (bytes/string) → (start, length)."""
    n = _read_varints(st, idx)
    if (n < 0).any():
        raise ValueError(f"negative length {n[n < 0][0]}")
    return _advance(st, idx, n, "bytes"), n


def _gather(buf: np.ndarray, start: np.ndarray, length: np.ndarray):
    """Concatenate the spans into one buffer → (int32 offsets, bytes)."""
    offsets = np.zeros(len(start) + 1, np.int64)
    np.cumsum(length, out=offsets[1:])
    total = int(offsets[-1])
    src = np.repeat(start - offsets[:-1], length) + np.arange(total)
    return offsets.astype(np.int32), buf[src]


def _binary(typ: pa.DataType, offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    arr = pa.Array.from_buffers(
        typ, len(offsets) - 1, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    if typ == pa.string():
        try:
            arr.validate(full=True)
        except pa.ArrowInvalid:
            # re-decode row by row for the codec's own UnicodeDecodeError
            for a, b in zip(offsets[:-1], offsets[1:]):
                data[a:b].tobytes().decode("utf-8")
            raise
    return arr


def _fixed_width(typ: pa.DataType, values: np.ndarray) -> pa.Array:
    values = np.ascontiguousarray(values)
    return pa.Array.from_buffers(typ, len(values), [None, pa.py_buffer(values)])


def _decimal_array(buf, start, length, typ: pa.Decimal128Type) -> pa.Array:
    """Big-endian two's-complement unscaled ints → decimal128. Spans of up
    to 8 bytes are shifted into int64 in numpy, one round per byte, the first
    byte read signed so the value comes out sign-extended; wider ones go
    through ``int.from_bytes`` row by row."""
    out = np.empty((len(start), 2), np.int64)  # decimal128: low, high word
    bound = 10**typ.precision
    small = np.flatnonzero(length <= 8)
    s, n = start[small], length[small]
    v = np.zeros(len(small), np.int64)
    for j in range(int(n.max(initial=0))):
        has = j < n
        b = buf[np.where(has, s + j, 0)]
        b = b.view(np.int8).astype(np.int64) if j == 0 else b.astype(np.int64)
        v = np.where(has, (v << 8) | b, v)
    # every int64 fits from precision 19 up
    if typ.precision < 19 and ((v >= bound) | (v <= -bound)).any():
        raise ValueError(f"decimal value does not fit in precision {typ.precision}")
    out[small, 0] = v
    out[small, 1] = v >> 63
    for i in np.flatnonzero(length > 8):
        a = int(start[i])
        v = int.from_bytes(buf[a : a + int(length[i])].tobytes(), "big", signed=True)
        if not -bound < v < bound:
            raise ValueError(f"decimal value does not fit in precision {typ.precision}")
        out[i] = np.frombuffer(v.to_bytes(16, "little", signed=True), np.int64)
    return _fixed_width(typ, out)


def _concat(parts: list, typ: pa.DataType) -> pa.Array:
    return pa.concat_arrays(parts) if parts else pa.array([], typ)


def _place(parts: list, rows: list, n: int, typ: pa.DataType) -> pa.Array:
    """``parts[k]`` holds the values of rows ``rows[k]`` of an n-row result;
    every other row is null. One concat and one take."""
    if len(parts) == 1 and len(rows[0]) == n:
        return parts[0]  # rows[0] is sorted, so it is arange(n)
    if not parts:
        return pa.nulls(n, typ)
    at = np.full(n, -1, np.int64)
    at[np.concatenate(rows)] = np.arange(sum(len(r) for r in rows))
    return pa.concat_arrays(parts).take(pa.array(at, mask=at < 0))


def _last_value_wins(owner: np.ndarray, keys: pa.Array, items: pa.Array):
    """Map entries in row order (``owner``: sorted row per entry) → the
    entries of the dict the codec builds: a key repeated within a row keeps
    its first position and takes its last value, as Java's reader does."""
    t = pa.table({"o": owner, "k": keys, "p": np.arange(len(owner))})
    g = t.group_by(["o", "k"], use_threads=False).aggregate(
        [("p", "min"), ("p", "max")]
    )
    if g.num_rows == len(owner):
        return owner, keys, items
    first = g["p_min"].to_numpy()
    order = np.argsort(first)
    first, last = first[order], g["p_max"].to_numpy()[order]
    return owner[first], keys.take(first), items.take(last)


#: an array/map's items are located by the per-record reader, then decoded
#: in one call, on rows with at least _LOCATE_ITEMS items left in their
#: current block once at most _LOCATE_ROWS rows are live: there, one item
#: round (~0.1 ms of numpy calls) costs more than stepping through the
#: remaining items in Python (~1 µs each)
_LOCATE_ROWS = 32
_LOCATE_ITEMS = 32


def _compile_batch(node: _Resolved, typ: pa.DataType | None):
    """Resolved schema pair → batch decoder ``fn(st, idx)``. ``typ`` is the
    Arrow type to build (``_arrow_type(reader)``); None decodes only to
    move the cursors past a writer-only field."""
    k = node.kind
    if k == "error":
        def fn(st, idx, msg=node.error):
            if len(idx):
                raise ValueError(msg)
        return fn
    if k == "union":
        # a branch into the reader's null leaves its rows null
        branches = tuple(
            None if b.kind == "null" else _compile_batch(b, typ) for b in node.branches
        )

        def fn(st, idx, branches=branches):
            b = _read_varints(st, idx)
            bad = (b < 0) | (b >= len(branches))
            if bad.any():
                raise ValueError(f"union branch index {b[bad][0]} out of range")
            parts, rows = [], []
            for i, dec in enumerate(branches):
                sel = np.flatnonzero(b == i)
                if sel.size and dec is not None:
                    out = dec(st, idx[sel])
                    if typ is not None:
                        parts.append(out)
                        rows.append(sel)
            return None if typ is None else _place(parts, rows, len(idx), typ)
        return fn
    if k == "record":
        entries = tuple(
            (name, _compile_batch(n, None if typ is None or name is None else typ.field(name).type))
            for name, n in node.fields
        )
        defaults = () if typ is None else tuple(
            (name, pa.scalar(v, type=typ.field(name).type)) for name, v in node.defaults
        )

        def fn(st, idx, entries=entries, defaults=defaults):
            cols = {}
            for name, dec in entries:
                out = dec(st, idx)
                if name is not None:
                    cols[name] = out
            if typ is None:
                return None
            for name, value in defaults:  # reader defaults: constants
                cols[name] = pa.repeat(value, len(idx))
            if not cols:
                return pa.array([{}] * len(idx), typ)
            return pa.StructArray.from_arrays(
                [cols[f.name] for f in typ], fields=list(typ)
            )
        return fn
    if k == "null":
        return lambda st, idx: None if typ is None else pa.nulls(len(idx), typ)
    if k == "boolean":
        def fn(st, idx):
            start = _advance(st, idx, 1, "boolean")
            return None if typ is None else pa.array(st.buf[start] == 1)
        return fn
    if k in ("int", "long"):
        bounds, scale = _INT_LOGICAL.get(
            node.logical, (_INT32 if node.to == "int" else None, 1)
        )

        def fn(st, idx, what=f"avro {node.logical or node.to}"):
            v = _read_varints(st, idx)
            if typ is None:
                return None
            if pa.types.is_floating(typ):  # int/long → float/double promotion
                return _fixed_width(typ, v.astype(typ.to_pandas_dtype()))
            if bounds is not None:
                _check_range(v, *bounds, what)
            if typ.bit_width == 32:
                v = v.astype(np.int32)
            return _fixed_width(typ, v * scale if scale != 1 else v)
        return fn
    if k in ("float", "double"):
        width, dtype = (4, "<f4") if k == "float" else (8, "<f8")

        def fn(st, idx):
            start = _advance(st, idx, width, k)
            if typ is None:
                return None
            raw = st.buf[start[:, None] + np.arange(width)]
            v = raw.view(dtype).ravel()
            return _fixed_width(typ, v.astype(typ.to_pandas_dtype()))
        return fn
    if k in ("bytes", "string", "fixed"):
        def fn(st, idx, size=node.size if k == "fixed" else None):
            if size is None:
                start, length = _read_spans(st, idx)
            else:
                start = _advance(st, idx, size, "fixed")
                length = np.full(len(idx), size, np.int64)
            if typ is None:
                return None
            if pa.types.is_decimal(typ):
                return _decimal_array(st.buf, start, length, typ)
            return _binary(typ, *_gather(st.buf, start, length))
        return fn
    if k == "enum":
        symbols = node.symbols
        known = np.array(node.known)
        table = pa.array(symbols, pa.string())

        def fn(st, idx):
            i = _read_varints(st, idx)
            bad = (i < 0) | (i >= len(symbols))
            if bad.any():
                raise ValueError(f"enum index {i[bad][0]} out of range")
            if not known[i].all():
                sym = symbols[i[~known[i]][0]]
                raise ValueError(f"enum symbol {sym!r} not in reader schema")
            return None if typ is None else table.take(i)
        return fn
    if k in ("array", "map"):
        is_map = k == "map"
        ityp = None if typ is None else (typ.item_type if is_map else typ.value_type)
        item = _compile_batch(node.items, ityp)
        step = _compile_read(node.items)  # one item, per record

        def read_items(st, rows):
            """One item at each cursor in ``rows`` → (map keys, values)."""
            keys = None
            if is_map:
                start, length = _read_spans(st, rows)
                if typ is not None:
                    keys = _binary(pa.string(), *_gather(st.buf, start, length))
            return keys, item(st, rows)

        def locate(st, rows, counts):
            """Start of each of the next ``counts[i]`` items at cursor
            ``rows[i]`` (a map item starts at its key), found by stepping
            through them with the per-record reader; None if some row
            cannot be stepped through."""
            starts = []
            for r, n in zip(rows.tolist(), counts.tolist()):
                p0 = int(st.pos[r])
                data = st.buf[p0 : st.end[r]].tobytes()
                p = 0
                try:
                    for _ in range(n):
                        starts.append(p0 + p)
                        if is_map:
                            size, p = _read_zlong_at(data, p)
                            p += max(size, 0)
                        p = step(data, p)[1]
                except Exception:  # the item rounds decode it and raise
                    return None
                if p > len(data):
                    return None
            return np.array(starts, np.int64)

        def fn(st, idx):
            # loop over item index: each round reads a block header on the
            # live rows whose block is used up, then one item on every live
            # row. A row leaves at its closing 0 block, so a round costs
            # O(live rows). Once few rows are live, a row with a long block
            # left has its items located by the per-record reader and then
            # decoded in one call, so a skewed batch does not pay one round
            # per item of its longest array.
            m = len(idx)
            left = np.zeros(m, np.int64)  # items left in the current block
            live = np.arange(m)  # rows before their closing 0 block
            keys, parts, owners = [], [], []
            stepping = True  # until a row fails to be located
            while True:
                head = live[left[live] == 0]
                if head.size:
                    count = _read_varints(st, idx[head])
                    sized = np.flatnonzero(count < 0)
                    if sized.size:  # negative count: a byte size follows
                        _read_varints(st, idx[head[sized]])
                        count[sized] = -count[sized]
                        if (count < 0).any():
                            raise ValueError("invalid block count")
                    left[head] = count
                    live = live[left[live] > 0]
                if not live.size:
                    break
                if stepping and live.size <= _LOCATE_ROWS:
                    long = live[left[live] >= _LOCATE_ITEMS]
                    starts = locate(st, idx[long], left[long]) if long.size else None
                    stepping = starts is not None or not long.size
                    if starts is not None:
                        counts = left[long]
                        sub = st.at(starts, np.repeat(st.end[idx[long]], counts))
                        k, v = read_items(sub, np.arange(len(starts)))
                        st.pos[idx[long]] = sub.pos[np.cumsum(counts) - 1]
                        keys.append(k)
                        parts.append(v)
                        owners.append(np.repeat(long, counts))
                        left[long] = 0
                        continue
                k, v = read_items(st, idx[live])
                keys.append(k)
                parts.append(v)
                owners.append(live)
                left[live] -= 1
            if typ is None:
                return None
            owner = np.concatenate(owners) if owners else np.empty(0, np.int64)
            order = np.argsort(owner, kind="stable")  # round-major → row-major
            owner = owner[order]
            items = _concat(parts, ityp).take(order)
            if is_map:
                ks = _concat(keys, pa.string()).take(order)
                owner, ks, items = _last_value_wins(owner, ks, items)
            offsets = np.zeros(m + 1, np.int32)
            np.cumsum(np.bincount(owner, minlength=m), out=offsets[1:])
            offsets = pa.array(offsets)
            if is_map:
                return pa.MapArray.from_arrays(offsets, ks, items, type=typ)
            return pa.ListArray.from_arrays(offsets, items, type=typ)
        return fn


class _BatchDecoder:
    """A (writer, reader) schema pair compiled once into a batch decoder."""

    def __init__(self, writer_json: str, reader_json: str | None, tz: str | None):
        writer = json.loads(writer_json)
        reader = json.loads(reader_json) if reader_json else writer
        if _type_name(writer) != "record" or _type_name(reader) != "record":
            raise ValueError("top-level avro schema must be a record")
        self.type = _arrow_type(reader, tz)
        self._fn = _compile_batch(_resolve(writer, reader), self.type)

    def decode_rows(self, buf, start, end, rows) -> pa.StructArray:
        """Decode the datums ``buf[start[r]:end[r]]`` of ``rows``."""
        return self._fn(_Cursors(buf, start.copy(), end), rows)

    def __call__(self, values: pa.Array) -> pa.StructArray:
        buf, start, end, rows = _value_spans(values)
        out = self.decode_rows(buf, start, end, rows)
        return _place([out], [rows], len(values), self.type)


@functools.lru_cache(maxsize=64)
def _batch_decoder(
    writer_json: str, reader_json: str | None, tz: str | None = None
) -> _BatchDecoder:
    return _BatchDecoder(writer_json, reader_json, tz)


def decode_avro_batch(
    values: pa.Array, writer: str, reader: str | None = None
) -> pa.StructArray:
    """Decode a binary Arrow array of Avro datums (``writer`` schema JSON,
    optionally resolved to ``reader``) into one struct array, a null value
    giving a null row. Same values as ``AvroBinaryCodec(writer, reader)
    .decode`` per row, except that maps come back as Arrow maps (the codec
    dict's key/value pairs, in its order) and timestamps are tz-naive UTC
    like the codec's datetimes. Raises ``ValueError`` where Arrow cannot
    hold a value (an ``int`` outside int32, a decimal wider than its
    precision) and ``EOFError`` on a truncated datum, as the codec does."""
    return _batch_decoder(writer, reader)(values)


def decode_framed_batch(
    values: pa.Array,
    frame_size: int,
    writer_ids: Callable[[np.ndarray], np.ndarray],
    writer_json: Callable[[int], str],
    reader: str,
    tz: str | None = None,
) -> pa.StructArray:
    """Decode a binary Arrow array whose non-null values are each a
    ``frame_size``-byte frame followed by an Avro datum. ``writer_ids``
    maps the frames (a rows × frame_size uint8 array) to one writer schema
    id per row and ``writer_json`` an id to its schema JSON. The datums of
    each distinct id decode in one kernel call into the ``reader`` shape;
    rows come back in input order, a null value giving a null row."""
    buf, start, end, rows = _value_spans(values)
    size = end[rows] - start[rows]
    if (size < frame_size).any():
        raise ValueError(f"framed value too short ({size[size < frame_size][0]} bytes)")
    ids = writer_ids(buf[start[rows, None] + np.arange(frame_size)])
    start = start + frame_size
    parts, where = [], []
    for sid in np.unique(ids):
        decoder = _batch_decoder(writer_json(int(sid)), reader, tz)
        sel = rows[ids == sid]
        parts.append(decoder.decode_rows(buf, start, end, sel))
        where.append(sel)
    typ = parts[0].type if parts else _arrow_type(json.loads(reader), tz)
    return _place(parts, where, len(values), typ)


# ---------------------------------------------------------------------------
# Spark integration — one mapInArrow stage per encode, decode or round trip
# ---------------------------------------------------------------------------


#: time zone of decoded timestamps handed to Spark: Avro timestamps are
#: UTC instants, and Spark reads TimestampType as UTC microseconds
SPARK_TZ = "UTC"


def _spark_fields(reader: dict) -> list:
    from pyspark.sql.types import StructField

    from .codecs import avro_to_spark_type

    return [
        StructField(f["name"], avro_to_spark_type(f["type"]), nullable=True)
        for f in reader["fields"]
    ]


def _decoded_record_batch(
    batch: pa.RecordBatch, value_col: str, rec: pa.StructArray
) -> pa.RecordBatch:
    """The record fields of ``rec`` followed by every column of ``batch``
    except ``value_col``, unchanged."""
    cols = rec.flatten()
    names = [f.name for f in rec.type]
    for name, col in zip(batch.schema.names, batch.columns):
        if name != value_col:
            cols.append(col)
            names.append(name)
    return pa.RecordBatch.from_arrays(cols, names=names)


def df_decode_avro(
    df,
    value_col: str,
    writer_schema_json: str,
    reader_schema_json: str | None = None,
):
    """DataFrame with a binary ``value_col`` → DataFrame of decoded record
    columns (plus the other input columns passed through; a null value
    gives null record fields).

    Scale path: ``mapInArrow`` with ``decode_avro_batch`` — one numpy pass
    per field over each Arrow batch; the shuffle-free analog of
    ``from_avro`` for environments without the spark-avro jar.
    """
    from pyspark.sql.types import StructType

    reader = json.loads(reader_schema_json or writer_schema_json)
    passthrough = [f for f in df.schema.fields if f.name != value_col]
    schema = StructType(_spark_fields(reader) + passthrough)

    def gen(batches) -> Iterator:
        decode = _batch_decoder(writer_schema_json, reader_schema_json, SPARK_TZ)
        for batch in batches:
            rec = decode(batch.column(value_col))
            yield _decoded_record_batch(batch, value_col, rec)

    return df.mapInArrow(gen, schema=schema)


def _encode_rows(codec: AvroBinaryCodec, batch: pa.RecordBatch, head: bytes = b""):
    """One Avro datum (after ``head``) per row of an Arrow batch → binary
    array. Spark's Arrow batches give the codec what it writes: timestamps
    as aware datetimes, nulls as None, decimals as ``Decimal``, maps as
    (key, value) pairs."""
    return pa.array([head + codec.encode(row) for row in batch.to_pylist()], pa.binary())


def df_encode_avro(df, writer_schema_json: str, out_col: str = "value"):
    """Encode every row of ``df`` into one Avro-binary bytes column, in one
    ``mapInArrow`` stage; timestamps are written as the UTC instants they
    hold."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    def gen(batches) -> Iterator:
        codec = AvroBinaryCodec(writer_schema_json)
        for batch in batches:
            yield pa.RecordBatch.from_arrays([_encode_rows(codec, batch)], names=[out_col])

    return df.mapInArrow(gen, schema=StructType([StructField(out_col, BinaryType())]))


def df_roundtrip_avro(
    df,
    writer_schema_json: str,
    reader_schema_json: str | None = None,
):
    """Encode every row to Avro-binary wire bytes and decode them straight
    back (with reader-schema resolution) in ONE ``mapInArrow`` stage.

    Same result as ``df_encode_avro`` ∘ ``df_decode_avro`` — each batch is
    encoded per row, then its wire bytes go through the batch kernel — but
    the per-stage Arrow/Python-worker overhead is paid once: the right
    shape when the wire bytes don't need to cross a stage boundary (codec
    verification, re-serialization pipelines). The two-stage forms remain
    the path when bytes genuinely leave the plan (Kafka sink, binary
    files).
    """
    from pyspark.sql.types import StructType

    reader = json.loads(reader_schema_json or writer_schema_json)
    schema = StructType(_spark_fields(reader))

    def gen(batches) -> Iterator:
        codec = AvroBinaryCodec(writer_schema_json)
        decode = _batch_decoder(writer_schema_json, reader_schema_json, SPARK_TZ)
        for batch in batches:
            yield pa.RecordBatch.from_struct_array(decode(_encode_rows(codec, batch)))

    return df.mapInArrow(gen, schema=schema)
