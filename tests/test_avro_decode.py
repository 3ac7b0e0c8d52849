"""The schema-compiled Avro decoder (``avro_wire.compile_decoder``) and the ``decode_envelope(fmt="avro")`` pass built on it: parity with the
reference decoder ``avro_wire.decode``, the Avro promotion rules, and a
mixed-schema batch through Spark against a Python replay."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from tipoca_stream_spark.sources import avro_wire
from tipoca_stream_spark.sources.debezium import SchemaRegistry, decode_envelope


def envelope(fields) -> str:
    """Debezium envelope over nullable row fields ``[(name, avro type)]``;
    a list type is one union with "null" added first."""
    return json.dumps(
        {
            "type": "record",
            "name": "Envelope",
            "fields": [
                {
                    "name": "before",
                    "type": [
                        "null",
                        {
                            "type": "record",
                            "name": "Value",
                            "fields": [
                                {"name": n, "type": ["null", *t] if isinstance(t, list) else ["null", t]}
                                for n, t in fields
                            ],
                        },
                    ],
                },
                {"name": "after", "type": ["null", "Value"]},
                {"name": "op", "type": ["null", "string"]},
                {"name": "ts_ms", "type": ["null", "long"]},
            ],
        }
    )


V1 = envelope([("id", "long"), ("name", "string")])
V2 = envelope([("id", "long"), ("name", "string"), ("email", "string")])
ROW_V1 = T.StructType([T.StructField("id", T.LongType()), T.StructField("name", T.StringType())])
ROW_V2 = T.StructType(ROW_V1.fields + [T.StructField("email", T.StringType())])
RAW = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("value", T.BinaryType()),
    ]
)


IMAGES = ("before", "after")


def images(row_schema: T.StructType) -> T.StructType:
    """The reader type ``decode_envelope`` compiles: the two row images."""
    return T.StructType([T.StructField(im, row_schema) for im in IMAGES])


def framed(schema_json: str, schema_id: int, obj: dict) -> bytes:
    return avro_wire.frame(schema_id, avro_wire.encode(avro_wire.parse_schema(schema_json), obj))


def replay(schema_json: str, value: bytes, row_schema: T.StructType) -> dict:
    """The reference decode of one message, projected onto ``row_schema``:
    ``{image: None | {field: value}}``, missing writer fields as None."""
    native = avro_wire.decode(avro_wire.parse_schema(schema_json), value[5:])
    return {
        im: None if native[im] is None else {f.name: native[im].get(f.name) for f in row_schema.fields}
        for im in IMAGES
    }


def compiled(schema_json: str, values: list[bytes], row_schema: T.StructType) -> list[dict]:
    """The compiled decoder's rows in ``replay``'s shape: fields the writer
    lacks (left out of the decoded dicts) filled in as None."""
    decode = avro_wire.compile_decoder(schema_json, images(row_schema))
    return [
        {
            im: None
            if row.get(im) is None
            else {f.name: row[im].get(f.name) for f in row_schema.fields}
            for im in IMAGES
        }
        for row in decode(values)
    ]


# --- parity with avro_wire.decode -------------------------------------------

# the envelope values of test_avro_wire's round-trip property, with names
# widened to any UTF-8 text and ids spanning every varint width
name_st = st.text(min_size=0, max_size=12)
value_st = st.fixed_dictionaries(
    {
        "id": st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        "name": st.one_of(st.none(), name_st),
    }
)


@given(
    before=st.one_of(st.none(), value_st),
    after=st.one_of(st.none(), value_st),
    op=st.one_of(st.none(), st.sampled_from(["c", "u", "d"])),
    ts=st.one_of(st.none(), st.integers(min_value=-(2**62), max_value=2**62)),
)
@settings(max_examples=200, deadline=None)
def test_compiled_decoder_matches_reference_decoder(before, after, op, ts):
    msg = framed(V1, 1, {"before": before, "after": after, "op": op, "ts_ms": ts})
    assert compiled(V1, [msg], ROW_V1) == [replay(V1, msg, ROW_V1)]
    # read through a wider reader row: the writer lacks "email" → null
    assert compiled(V1, [msg], ROW_V2) == [replay(V1, msg, ROW_V2)]


def test_compiled_decoder_goldens():
    msgs = [
        framed(V1, 1, {"before": None, "after": {"id": -1, "name": "é中😀"}, "op": "c", "ts_ms": 0}),
        framed(V1, 1, {"before": {"id": 2**62, "name": None}, "after": None, "op": "d", "ts_ms": -64}),
        framed(V1, 1, {"before": None, "after": None, "op": None, "ts_ms": None}),
    ]
    assert compiled(V1, msgs, ROW_V1) == [
        {"before": None, "after": {"id": -1, "name": "é中😀"}},
        {"before": {"id": 2**62, "name": None}, "after": None},
        {"before": None, "after": None},
    ]


def test_compiled_decoder_skips_writer_only_fields_and_nested_types():
    writer = json.dumps(
        {
            "type": "record",
            "name": "Envelope",
            "fields": [
                {"name": "source", "type": {"type": "record", "name": "Source", "fields": [
                    {"name": "db", "type": "string"},
                    {"name": "lsn", "type": "long"},
                    {"name": "tags", "type": {"type": "array", "items": "string"}},
                ]}},
                {"name": "after", "type": ["null", {"type": "record", "name": "Value", "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "raw", "type": "bytes"},
                    {"name": "kind", "type": {"type": "enum", "name": "K", "symbols": ["a", "b"]}},
                    {"name": "xs", "type": {"type": "array", "items": "int"}},
                    {"name": "m", "type": {"type": "map", "values": "double"}},
                    {"name": "blob", "type": {"type": "fixed", "name": "F4", "size": 4}},
                    {"name": "flag", "type": "boolean"},
                    {"name": "dropped", "type": "string"},
                ]}]},
            ],
        }
    )
    row = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("raw", T.BinaryType()),
            T.StructField("kind", T.StringType()),
            T.StructField("xs", T.ArrayType(T.IntegerType())),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
            T.StructField("blob", T.BinaryType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    after = {"id": 300, "raw": b"\x00\xff", "kind": "b", "xs": [1, -5, 300], "m": {"k": 2.5},
             "blob": b"abcd", "flag": True, "dropped": "zzz"}
    msg = framed(writer, 9, {"source": {"db": "d", "lsn": 7, "tags": ["x", "y"]}, "after": after})
    got = compiled(writer, [msg], row)
    want = dict(after)
    del want["dropped"]
    assert got == [{"before": None, "after": want}]  # the writer has no "before"


MAP = {"type": "map", "values": "long"}


def map_writer(image_map, envelope_map) -> str:
    """An envelope whose ``after`` image and a non-image envelope field
    each carry a map the reader row does not have."""
    return json.dumps(
        {
            "type": "record",
            "name": "Envelope",
            "fields": [
                {"name": "before", "type": ["null", {"type": "record", "name": "Value", "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "hstore", "type": image_map},
                    {"name": "name", "type": ["null", "string"]},
                ]}]},
                {"name": "after", "type": ["null", "Value"]},
                {"name": "headers", "type": envelope_map},
                {"name": "op", "type": "string"},
            ],
        }
    )


@pytest.mark.parametrize(
    "image_map,envelope_map",
    [(MAP, MAP), (["null", MAP], ["null", MAP]), (MAP, ["null", MAP])],
    ids=["bare", "nullable", "mixed"],
)
def test_compiled_decoder_skips_writer_only_maps(image_map, envelope_map):
    writer = map_writer(image_map, envelope_map)
    msgs = [
        framed(writer, 5, {"before": None, "after": {"id": 1, "hstore": {"a": 1, "é": -2**40},
               "name": "x"}, "headers": {"h": 7}, "op": "c"}),
        framed(writer, 5, {"before": {"id": 1, "hstore": {}, "name": None}, "after": None,
               "headers": {}, "op": "d"}),
    ]
    row = T.StructType([T.StructField("id", T.LongType()), T.StructField("name", T.StringType())])
    assert compiled(writer, msgs, row) == [replay(writer, m, row) for m in msgs]


def test_union_branch_that_does_not_resolve_raises_only_when_read():
    schema = envelope([("id", "long"), ("v", ["int", "string"])])
    row = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.IntegerType())])
    decode = avro_wire.compile_decoder(schema, images(row))  # builds: "int" resolves
    # before null, after present, id present = 1; then v's branch and value,
    # then op and ts_ms null
    head, tail = b"\x00\x02\x02\x02", b"\x00\x00"
    assert decode([avro_wire.frame(6, head + b"\x00" + tail),
                   avro_wire.frame(6, head + b"\x02\x0e" + tail)]) == [
        {"before": None, "after": {"id": 1, "v": None}},
        {"before": None, "after": {"id": 1, "v": 7}},
    ]
    with pytest.raises(TypeError, match=r"field after\.v: Avro string cannot be read as int"):
        decode([avro_wire.frame(6, head + b"\x04\x04hi" + tail)])


def test_compiled_decoder_truncated_message_raises():
    msg = framed(V1, 1, {"before": None, "after": {"id": 5, "name": "abcdef"}, "op": "c", "ts_ms": 1})
    with pytest.raises(ValueError, match="truncated"):
        avro_wire.compile_decoder(V1, images(ROW_V1))([msg[:-6]])


# --- Avro promotion rules ------------------------------------------------------

PROMOTIONS = [
    ("int", 7, T.LongType(), 7),
    ("int", -7, T.FloatType(), -7.0),
    ("int", 2**31 - 1, T.DoubleType(), float(2**31 - 1)),
    ("long", -(2**40), T.FloatType(), float(-(2**40))),
    ("long", 2**53, T.DoubleType(), float(2**53)),
    ("float", 1.5, T.DoubleType(), 1.5),
    ("string", "é😀", T.BinaryType(), "é😀".encode()),
    ("bytes", "é😀".encode(), T.StringType(), "é😀"),
]


@pytest.mark.parametrize(
    "writer,value,reader,expected", PROMOTIONS, ids=[f"{w}-{r.typeName()}" for w, _, r, _ in PROMOTIONS]
)
def test_promotion(writer, value, reader, expected):
    schema = envelope([("x", writer)])
    msg = framed(schema, 3, {"before": None, "after": {"x": value}})
    got = compiled(schema, [msg], T.StructType([T.StructField("x", reader)]))
    assert got == [{"before": None, "after": {"x": expected}}]
    assert type(got[0]["after"]["x"]) is type(expected)


@pytest.mark.parametrize(
    "writer,reader",
    [("long", T.IntegerType()), ("double", T.FloatType()), ("string", T.LongType()),
     ("boolean", T.StringType()), ("long", T.TimestampType())],
)
def test_pair_without_promotion_raises_naming_the_field(writer, reader):
    schema = envelope([("id", "long"), ("amount", writer)])
    row = T.StructType([T.StructField("id", T.LongType()), T.StructField("amount", reader)])
    with pytest.raises(TypeError, match=r"field before\.amount: Avro"):
        avro_wire.compile_decoder(schema, images(row))


# --- decode_envelope(fmt="avro") through Spark ---------------------------------


def _registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.register_avro(1, V1)
    reg.register_avro(2, V2)
    return reg


def test_decode_envelope_mixed_batch_with_deletes_equals_replay(spark):
    events = [
        (V1, 1, {"before": None, "after": {"id": 1, "name": "a"}, "op": "c", "ts_ms": 1}),
        (V2, 2, {"before": None, "after": {"id": 2, "name": "b", "email": "b@x"}, "op": "c", "ts_ms": 2}),
        (V1, 1, {"before": {"id": 1, "name": "a"}, "after": {"id": 1, "name": "a2"}, "op": "u", "ts_ms": 3}),
        (V1, 1, {"before": {"id": 1, "name": "a2"}, "after": None, "op": "d", "ts_ms": 4}),
        (V2, 2, {"before": {"id": 2, "name": "b", "email": "b@x"}, "after": None, "op": "d", "ts_ms": 5}),
        (V2, 2, {"before": None, "after": {"id": -3, "name": "中文", "email": None}, "op": "c", "ts_ms": 6}),
    ] * 5
    rows = [("t", 0, off, framed(js, sid, obj)) for off, (js, sid, obj) in enumerate(events)]
    # several input partitions, so batches interleave the two wire ids
    df = spark.createDataFrame(rows, RAW).repartition(3)
    out = decode_envelope(df, ROW_V2, fmt="avro", registry=_registry())
    assert out.columns == ["topic", "partition", "offset", "schema_id", "before", "after"]
    got = {r["offset"]: r.asDict(recursive=True) for r in out.collect()}
    assert len(got) == len(events)
    for off, (js, sid, _) in enumerate(events):
        want = {"topic": "t", "partition": 0, "offset": off, "schema_id": sid,
                **replay(js, rows[off][3], ROW_V2)}
        assert got[off] == want


def test_decode_envelope_promotions_through_spark(spark):
    schema = envelope([("i", "int"), ("f", "float"), ("s", "string"), ("b", "bytes"), ("ok", "boolean")])
    row = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("f", T.DoubleType()),
            T.StructField("s", T.BinaryType()),
            T.StructField("b", T.StringType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    reg = SchemaRegistry()
    reg.register_avro(4, schema)
    after = {"i": -2**31, "f": 0.25, "s": "é", "b": b"xy", "ok": True}
    df = spark.createDataFrame(
        [("t", 0, 0, framed(schema, 4, {"before": None, "after": after}))], RAW
    )
    got = decode_envelope(df, row, fmt="avro", registry=reg).collect()[0]
    assert got["before"] is None
    assert got["after"].asDict() == {"i": -2**31, "f": 0.25, "s": bytearray("é".encode()),
                                     "b": "xy", "ok": True}


def test_decode_envelope_empty_batch(spark):
    df = spark.createDataFrame([], RAW)
    out = decode_envelope(df, ROW_V2, fmt="avro", registry=_registry())
    assert out.collect() == []
    assert out.schema["after"].dataType == ROW_V2


def test_decode_envelope_pair_without_promotion_raises(spark):
    reg = SchemaRegistry()
    reg.register_avro(1, V1)
    df = spark.createDataFrame([("t", 0, 0, framed(V1, 1, {"after": {"id": 1, "name": "a"}}))], RAW)
    row = T.StructType([T.StructField("id", T.IntegerType()), T.StructField("name", T.StringType())])
    with pytest.raises(Exception, match=r"field before\.id"):
        decode_envelope(df, row, fmt="avro", registry=reg).collect()
