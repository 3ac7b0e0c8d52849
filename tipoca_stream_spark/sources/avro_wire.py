"""Pure-Python Avro binary codec + Confluent wire framing.

The reference's entire ingest path is Confluent-framed Avro: a 5-byte
header (magic ``0x00`` + big-endian u32 schema id) and an Avro-binary body
decoded against the registry schema (``pkg/serializer/serializer.go:50-83``,
``pkg/schemaregistry/schemaregistry.go:80-138``). This container bundles no
Avro library and no spark-avro jar, so the body decode is implemented here
from the Avro 1.11 binary-encoding spec directly — it is ~150 lines because
Debezium envelopes only exercise records/unions/primitives, but the full
primitive + complex type set is covered:

- primitives: null, boolean, int/long (zigzag varint), float, double
  (little-endian IEEE), bytes, string (length-prefixed)
- complex: record, enum, array, map, union (varint branch index), fixed

Logical types decode as their base type (Debezium's epoch codecs are then
normalized by ``functions.temporal`` — P4 — exactly where the reference
does it, in the transformer not the deserializer).

``decode``/``encode`` are the reference codec: the encoder produces
wire-format fixtures for tests and tools, and ``decode`` is the oracle the
hot path is tested against. The hot path is ``compile_decoder``: compiled
once per writer schema against a Spark reader struct type, it decodes
message bodies to one dict per record, and ``sources.debezium`` turns
those rows into typed Arrow struct columns inside one Arrow-batched
``mapInArrow`` pass — never per row through a Python UDF expression, and
never through an intermediate text format.
"""

from __future__ import annotations

import io
import json
import struct

MAGIC_BYTE = b"\x00"


def parse_schema(schema: str | dict | list):
    """Parse an Avro schema (JSON text or already-loaded structure) into the
    dict/list form used by the codec, resolving named-type references."""
    if isinstance(schema, str) and schema.lstrip().startswith(("{", "[", '"')):
        schema = json.loads(schema)
    names: dict[str, dict] = {}

    def walk(s):
        if isinstance(s, str):
            return names.get(s, s)  # primitive name or named-type reference
        if isinstance(s, list):
            return [walk(b) for b in s]
        t = s.get("type")
        if t in ("record", "error"):
            # register before walking fields: supports recursive types
            names[s.get("name")] = s
            s["fields"] = [dict(f, type=walk(f["type"])) for f in s["fields"]]
            return s
        if t in ("enum", "fixed"):
            names[s.get("name")] = s
            return s
        if t == "array":
            return dict(s, items=walk(s["items"]))
        if t == "map":
            return dict(s, values=walk(s["values"]))
        if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
            return walk(t)
        return s

    return walk(schema)


# --- binary decode ----------------------------------------------------------


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("avro: truncated input")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_long(self) -> int:
        """Zigzag varint (spec: long/int share the encoding)."""
        shift, acc = 0, 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)


def _decode(schema, r: _Reader):
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union: varint branch index then value
        return _decode(schema[r.read_long()], r)
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) == b"\x01"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read(r.read_long())
    if t == "string":
        return r.read(r.read_long()).decode("utf-8")
    if t == "record":
        return {f["name"]: _decode(f["type"], r) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][r.read_long()]
    if t == "fixed":
        return r.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                r.read_long()
            out.extend(_decode(schema["items"], r) for _ in range(n))
        return out
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.read_long()
            for _ in range(n):
                k = r.read(r.read_long()).decode("utf-8")
                out[k] = _decode(schema["values"], r)
        return out
    raise ValueError(f"avro: unsupported schema type {t!r}")


def decode(schema, payload: bytes):
    """Avro binary body → native Python (serializer.go:67 NativeFromBinary)."""
    return _decode(schema, _Reader(payload))


# --- schema-compiled decode (the ingest hot path) ---------------------------

# Avro writer type -> the Spark reader types it resolves to: the type itself
# (as spark-avro maps it) plus the spec's promotions ("Schema Resolution":
# int -> long, float, double; long -> float, double; float -> double;
# string <-> bytes). Keys are ``DataType.typeName()``.
_READS_AS = {
    "boolean": ("boolean",),
    "int": ("integer", "long", "float", "double"),
    "long": ("long", "float", "double"),
    "float": ("float", "double"),
    "double": ("double",),
    "string": ("string", "binary"),
    "bytes": ("binary", "string"),
    "enum": ("string",),
    "fixed": ("binary",),
}
_F32 = struct.Struct("<f").unpack_from
_F64 = struct.Struct("<d").unpack_from


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``pos`` → (value, next position)."""
    b = buf[pos]
    pos += 1
    if b < 0x80:
        return (b >> 1) ^ -(b & 1), pos
    acc, shift = b & 0x7F, 7
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if b < 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


def _length(buf: bytes, pos: int) -> tuple[int, int]:
    n, pos = _varint(buf, pos)
    if n < 0:
        raise ValueError("avro: negative length")
    return n, pos


def _read_null(buf, pos):
    return None, pos


def _read_boolean(buf, pos):
    return buf[pos] == 1, pos + 1


def _read_float(buf, pos):
    return _F32(buf, pos)[0], pos + 4


def _read_double(buf, pos):
    return _F64(buf, pos)[0], pos + 8


def _read_as_float(buf, pos):
    v, pos = _varint(buf, pos)
    return float(v), pos


def _read_text(buf, pos):
    n, pos = _length(buf, pos)
    end = pos + n
    return buf[pos:end].decode("utf-8"), end


def _read_raw(buf, pos):
    n, pos = _length(buf, pos)
    end = pos + n
    return buf[pos:end], end


def _skip_raw(buf, pos):
    n, pos = _length(buf, pos)
    return None, pos + n


def _blocks(buf, pos):
    """Item count of the next array/map block (0 ends the sequence)."""
    n, pos = _varint(buf, pos)
    if n < 0:  # block with a byte-size prefix
        n = -n
        _, pos = _varint(buf, pos)
    return n, pos


def _kind(w) -> str:
    return w["type"] if isinstance(w, dict) else w


def _unresolved(err: TypeError):
    """Reader for a writer union branch that does not resolve: raises
    ``err`` when a message actually carries that branch."""

    def read(buf, pos):
        raise TypeError(*err.args)

    return read


def _compile(w, r, path: str):
    """Closure ``(buf, pos) -> (value, pos)`` reading writer schema node
    ``w`` as Spark type ``r``; ``r`` None decodes only to step past the
    value. A record reads as a dict holding only the fields both sides
    have. A writer/reader pair outside ``_READS_AS`` raises ``TypeError``
    naming ``path``; in a writer union that raises only when the message
    carries that branch, unless no non-null branch resolves at all."""
    if isinstance(w, list):  # union: varint branch index, then that branch
        branches, errors = [], []
        for b in w:
            try:
                branches.append(_compile(b, r, path))
            except TypeError as e:
                errors.append(e)
                branches.append(_unresolved(e))
        if errors and len(errors) == sum(_kind(b) != "null" for b in w):
            raise errors[0]
        branches = tuple(branches)
        n = len(branches)

        def read_union(buf, pos):
            i, pos = _varint(buf, pos)
            if not 0 <= i < n:
                raise ValueError(f"avro: union branch {i} out of range at {path}")
            return branches[i](buf, pos)

        return read_union
    t = _kind(w)
    if t == "null":
        return _read_null
    want = None if r is None else r.typeName()
    if t == "record":
        if want not in (None, "struct"):
            raise TypeError(f"field {path}: Avro record cannot be read as {r.simpleString()}")
        rfields = {} if r is None else {f.name: f.dataType for f in r.fields}
        steps = tuple(
            (f["name"] if f["name"] in rfields else None,
             _compile(f["type"], rfields.get(f["name"]),
                      f"{path}.{f['name']}" if path else f["name"]))
            for f in w["fields"]
        )

        def read_record(buf, pos):
            out = {}
            for name, rd in steps:
                v, pos = rd(buf, pos)
                if name is not None:
                    out[name] = v
            return out, pos

        return read_record
    if t in ("array", "map"):
        inner_key = "items" if t == "array" else "values"
        if r is not None and (
            want != t or (t == "map" and r.keyType.typeName() != "string")
        ):
            raise TypeError(f"field {path}: Avro {t} cannot be read as {r.simpleString()}")
        inner_r = None if r is None else (r.elementType if t == "array" else r.valueType)
        item = _compile(w[inner_key], inner_r, f"{path}[]")

        def read_array(buf, pos):
            out = []
            while True:
                n, pos = _blocks(buf, pos)
                if n == 0:
                    return out, pos
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)

        def read_map(buf, pos):
            out = {}
            while True:
                n, pos = _blocks(buf, pos)
                if n == 0:
                    return out, pos
                for _ in range(n):
                    k, pos = _read_text(buf, pos)
                    out[k], pos = item(buf, pos)

        return read_array if t == "array" else read_map
    if t not in _READS_AS:
        raise ValueError(f"avro: unsupported schema type {t!r} at {path}")
    if want is not None and want not in _READS_AS[t]:
        raise TypeError(f"field {path}: Avro {t} cannot be read as {r.simpleString()}")
    if t == "boolean":
        return _read_boolean
    if t in ("int", "long"):
        return _read_as_float if want in ("float", "double") else _varint
    if t == "float":
        return _read_float
    if t == "double":
        return _read_double
    if t in ("string", "bytes"):
        if want is None:
            return _skip_raw
        return _read_text if want == "string" else _read_raw
    if t == "enum":
        symbols = tuple(w["symbols"])

        def read_enum(buf, pos):
            i, pos = _varint(buf, pos)
            return symbols[i], pos

        return read_enum
    size = w["size"]  # fixed

    def read_fixed(buf, pos):
        return buf[pos : pos + size], pos + size

    return read_fixed


def compile_decoder(writer_schema, reader_type):
    """``decode(values) -> rows`` for Confluent-framed messages (5-byte
    header + body) of ONE writer schema, read as the Spark record type
    ``reader_type`` (a ``pyspark.sql.types.StructType``).

    Compiled once: every schema node becomes a closure that reads varints
    and length-prefixed bytes from a position, so decoding a message walks
    no schema dict. Each message decodes to one dict per record. Fields
    are matched by name: a reader field the writer lacks is left out of
    the dict (Arrow fills it null), and a writer field the reader lacks is
    stepped over. Writer/reader type pairs must be the same type or an
    Avro promotion (``_READS_AS``); any other pair raises ``TypeError``
    naming the field when the decoder is built, not per message (see
    ``_compile`` for union branches)."""
    w = parse_schema(writer_schema)
    if _kind(w) != "record":
        raise TypeError("avro: the writer schema must be a record")
    read = _compile(w, reader_type, "")

    def decode(values) -> list[dict]:
        rows = []
        for value in values:
            try:
                row, pos = read(value, 5)
            except (IndexError, struct.error):
                raise ValueError("avro: truncated input") from None
            if pos > len(value):
                raise ValueError("avro: truncated input")
            rows.append(row)
        return rows

    return decode


# --- binary encode (tests / fixture production) -----------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema, obj, w: io.BytesIO):
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union: pick the first matching branch
        for i, branch in enumerate(schema):
            bt = branch["type"] if isinstance(branch, dict) else branch
            if (obj is None) == (bt == "null"):
                w.write(_zigzag(i))
                return _encode(branch, obj, w)
        raise ValueError("avro: no union branch matched")
    if t == "null":
        return None
    if t == "boolean":
        return w.write(b"\x01" if obj else b"\x00")
    if t in ("int", "long"):
        return w.write(_zigzag(int(obj)))
    if t == "float":
        return w.write(struct.pack("<f", obj))
    if t == "double":
        return w.write(struct.pack("<d", obj))
    if t == "bytes":
        w.write(_zigzag(len(obj)))
        return w.write(obj)
    if t == "string":
        b = obj.encode("utf-8")
        w.write(_zigzag(len(b)))
        return w.write(b)
    if t == "record":
        for f in schema["fields"]:
            _encode(f["type"], obj.get(f["name"]), w)
        return None
    if t == "enum":
        return w.write(_zigzag(schema["symbols"].index(obj)))
    if t == "fixed":
        return w.write(obj)
    if t == "array":
        if obj:
            w.write(_zigzag(len(obj)))
            for item in obj:
                _encode(schema["items"], item, w)
        return w.write(_zigzag(0))
    if t == "map":
        if obj:
            w.write(_zigzag(len(obj)))
            for k, v in obj.items():
                kb = k.encode("utf-8")
                w.write(_zigzag(len(kb)))
                w.write(kb)
                _encode(schema["values"], v, w)
        return w.write(_zigzag(0))
    raise ValueError(f"avro: unsupported schema type {t!r}")


def encode(schema, obj) -> bytes:
    w = io.BytesIO()
    _encode(schema, obj, w)
    return w.getvalue()


# --- Confluent wire framing -------------------------------------------------


def frame(schema_id: int, body: bytes) -> bytes:
    """magic 0x00 + big-endian u32 schema id + avro body
    (serializer.go:96-112)."""
    return MAGIC_BYTE + schema_id.to_bytes(4, "big") + body


def schema_id(value: bytes) -> int:
    """The schema id in a Confluent wire header (serializer.go:53-61)."""
    if value is None or len(value) < 5 or value[0:1] != MAGIC_BYTE:
        raise ValueError("not a Confluent-framed message")
    return int.from_bytes(value[1:5], "big")


def unframe(value: bytes) -> tuple[int, bytes]:
    """(schema_id, body) from a Confluent-framed message
    (serializer.go:53-67)."""
    return schema_id(value), value[5:]
