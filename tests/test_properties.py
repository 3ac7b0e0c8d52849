"""Property-based tests (hypothesis): driver-side invariants of the pure
functions, plus a randomized CDC merge property vs the replay oracle. The
reference has no property tests (SURVEY.md §5) — these pin the semantics
that golden cases can't cover exhaustively."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from tipoca_stream_spark.functions.masking import MaskConfig, TableMaskRules, like_to_regex
from tipoca_stream_spark.schema.migrate import diff_schemas
from tipoca_stream_spark.schema.model import ColInfo, Table
from tipoca_stream_spark.schema.types import (
    MAX_DECIMAL_PRECISION,
    MAX_DECIMAL_SCALE,
    MAX_VARCHAR,
    compute_decimal,
    mysql_to_spark_type,
    varchar_length,
)

# --- like_to_regex ----------------------------------------------------------

text = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)


_REGEX_META = set(r"\.^$*+?()[]{}|")


def _strip_meta(s: str) -> str:
    # like_to_regex leaves non-% chars as live regex (mask_config.go:443-445),
    # so the "literal matches itself" property only holds for meta-free text
    return "".join(ch for ch in s if ch not in _REGEX_META and ch != "%")


@given(text)
def test_like_literal_matches_itself(s):
    # a meta-free pattern with no wildcards matches exactly its own text
    lit = _strip_meta(s)
    pat = like_to_regex(lit)
    assert re.fullmatch(pat[1:-1], lit) is not None


@given(text, text)
def test_like_percent_prefix_suffix(prefix, suffix):
    body = _strip_meta(prefix)
    pat = like_to_regex("%" + body)
    probe = _strip_meta(suffix) + body
    assert re.match(pat, probe) is not None or not re.match(pat, probe)  # never raises
    assert re.match(pat, "anything" + body) is not None


# --- type mapping clamps ----------------------------------------------------


@given(st.integers(min_value=0, max_value=100000), st.booleans())
def test_varchar_length_bounds(n, masked):
    v = varchar_length(n, masked)
    assert 1 <= v <= MAX_VARCHAR
    if masked:
        assert v == 50


@given(st.integers(min_value=1, max_value=100), st.integers(min_value=0, max_value=100))
def test_decimal_clamps(p, s):
    t = compute_decimal(p, s)
    assert 1 <= t.precision <= MAX_DECIMAL_PRECISION
    assert 0 <= t.scale <= MAX_DECIMAL_SCALE
    assert t.scale < max(t.precision, 1) or t.precision == 0


@given(st.sampled_from(["int", "bigint", "varchar(255)", "decimal(10,4)", "datetime",
                        "text", "enum('A','B')", "tinyint unsigned", "this_is_not_a_type"]))
def test_type_map_total(src):
    # the mapping is total: anything unknown degrades to StringType
    assert mysql_to_spark_type(src) is not None


# --- mask config normalization ---------------------------------------------


@given(st.lists(st.text(alphabet="abcDEF_", min_size=1, max_size=10), max_size=5))
def test_mask_rules_lowercase_everything(cols):
    r = TableMaskRules(non_pii_keys=cols, length_keys=cols, mobile_keys=cols)
    for lst in (r.non_pii_keys, r.length_keys, r.mobile_keys):
        assert all(c == c.lower() for c in lst)


@given(st.text(alphabet="abcXYZ", min_size=1, max_size=8))
def test_include_tables_case_insensitive(name):
    cfg = MaskConfig(salt="s", tables={}, include_tables=[name])
    assert cfg.table_included(name.upper()) and cfg.table_included(name.lower())


# --- schema diff properties -------------------------------------------------

col_names = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=6, unique=True
)


@given(col_names)
def test_diff_identity_is_empty(names):
    t = Table("t", [ColInfo(n, "string") for n in names])
    assert diff_schemas(t, t) == []


@given(col_names, col_names)
def test_diff_is_total_and_directional(a_names, b_names):
    a = Table("t", [ColInfo(n, "string") for n in a_names])
    b = Table("t", [ColInfo(n, "string") for n in b_names])
    ops = diff_schemas(a, b)
    kinds = {(o.kind.value, o.column) for o in ops}
    for n in set(a_names) - set(b_names):
        assert ("add_column", n) in kinds
    for n in set(b_names) - set(a_names):
        assert ("drop_column", n) in kinds


# --- randomized CDC merge property (driver-side oracle) ---------------------

ops_seq = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # pk
        st.sampled_from(["CREATE", "UPDATE", "DELETE"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None)
@given(ops_seq)
def test_offset_merge_equals_replay(spark, events):
    """merge_with_offsets over arbitrary batch splits == sequential replay."""
    from pyspark.sql import types as T

    from tipoca_stream_spark.operators.merge import merge_with_offsets

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("kafkaoffset", T.LongType()),
            T.StructField("debeziumop", T.StringType()),
        ]
    )
    rows = [
        (pk, f"v{off}" if op != "DELETE" else None, off, op)
        for off, (pk, op) in enumerate(events)
    ]
    # oracle: last op per pk wins
    state = {}
    for pk, name, off, op in rows:
        if op == "DELETE":
            state.pop(pk, None)
        else:
            state[pk] = name

    target = spark.createDataFrame(
        [], T.StructType([f for f in schema.fields if f.name != "debeziumop"])
    )
    # split into two arbitrary batches (first half/second half)
    mid = len(rows) // 2
    for chunk in (rows[:mid], rows[mid:]):
        if chunk:
            target = merge_with_offsets(target, spark.createDataFrame(chunk, schema), ["id"])
    got = {r["id"]: r["name"] for r in target.collect()}
    assert got == state


# --- connected components vs union-find oracle ------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=11), st.integers(min_value=0, max_value=11)),
    min_size=1,
    max_size=20,
)


@settings(max_examples=10, deadline=None)
@given(edges_strategy)
def test_components_match_union_find(spark, edges):
    from tipoca_stream_spark.operators.components import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # oracle: min node id per component, only for nodes appearing in edges
    oracle = {}
    for a, b in edges:
        for n in (a, b):
            root = find(n)
            # min id in the component = repeatedly-compressed root is not
            # guaranteed minimal; compute min over members instead
            oracle.setdefault(root, []).append(n)
    want = {}
    for members in oracle.values():
        m = min(members)
        for n in members:
            want[n] = m

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


# --- bucketed partition-delta pipeline property ------------------------------

pipeline_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # pk
        st.sampled_from(["c", "u", "d"]),
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=8, deadline=None)
@given(pipeline_ops, st.sampled_from([1, 2, 3, 5]))
def test_bucketed_pipeline_matches_python_oracle(spark, tmp_path_factory, events, buckets):
    """Any op sequence, split across 3 epochs, through the catalog-bucketed
    bucket-delta pipeline == a driver-side last-write-wins replay.
    Pins the riskiest storage path: bucket pruning + hard-link carryover
    must never change WHAT the merge computes."""
    import json

    from pyspark.sql import types as T

    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ]
    )
    rows = []
    state: dict[int, str] = {}
    for off, (pk, op) in enumerate(events):
        name = f"v{off}"
        after = None if op == "d" else {"id": pk, "name": name}
        # Debezium always carries the before-image on update/delete
        before = {"id": pk, "name": "old"} if op in ("u", "d") else None
        rows.append(
            ("t", 0, off, json.dumps({"before": before, "after": after, "op": op, "ts_ms": off}))
        )
        if op == "d":
            state.pop(pk, None)
        else:
            state[pk] = name

    tmp = tmp_path_factory.mktemp("bucketed_prop")
    cfg = CdcPipelineConfig(
        table="t",
        primary_keys=["id"],
        row_schema=row_schema,
        target_root=str(tmp / "targets"),
        checkpoint_dir=str(tmp / "ckpt"),
        catalog_buckets=buckets,
    )
    p = CdcPipeline(spark, cfg)
    third = max(1, len(rows) // 3)
    epochs = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, chunk in enumerate(e for e in epochs if e):
        p.run_batch(spark.createDataFrame(chunk, raw_schema), i)
    got = {r["id"]: r["name"] for r in p.target.read().collect()}
    assert got == state


@settings(max_examples=8, deadline=None)
@given(pipeline_ops, pipeline_ops)
def test_cdf_matches_python_diff(spark, tmp_path_factory, batch1, batch2):
    """changes(v1, v2, keys) over any two epochs == the driver-side diff of
    the replayed states (insert/delete/update classification included)."""
    import json

    from pyspark.sql import types as T

    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    row_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.StringType()),
        ]
    )

    def to_rows(events, base_off):
        rows, delta = [], {}
        for off, (pk, op) in enumerate(events, start=base_off):
            name = f"v{off}"
            after = None if op == "d" else {"id": pk, "name": name}
            before = {"id": pk, "name": "old"} if op in ("u", "d") else None
            rows.append(
                ("t", 0, off, json.dumps({"before": before, "after": after, "op": op, "ts_ms": off}))
            )
            delta[pk] = None if op == "d" else name
        return rows, delta

    rows1, d1 = to_rows(batch1, 0)
    rows2, d2 = to_rows(batch2, 1000)
    s1 = {pk: v for pk, v in d1.items() if v is not None}
    s2 = dict(s1)
    for pk, v in d2.items():
        if v is None:
            s2.pop(pk, None)
        else:
            s2[pk] = v

    tmp = tmp_path_factory.mktemp("cdf_prop")
    cfg = CdcPipelineConfig(
        table="t",
        primary_keys=["id"],
        row_schema=row_schema,
        target_root=str(tmp / "targets"),
        checkpoint_dir=str(tmp / "ckpt"),
        catalog_buckets=4,
    )
    p = CdcPipeline(spark, cfg)
    p.run_batch(spark.createDataFrame(rows1, raw_schema), 0)
    p.run_batch(spark.createDataFrame(rows2, raw_schema), 1)
    v1, v2 = p.target.versions()

    want = set()
    for pk in s2.keys() - s1.keys():
        want.add(("insert", pk, s2[pk]))
    for pk in s1.keys() - s2.keys():
        want.add(("delete", pk, s1[pk]))
    for pk in s1.keys() & s2.keys():
        if s1[pk] != s2[pk]:
            want.add(("update_preimage", pk, s1[pk]))
            want.add(("update_postimage", pk, s2[pk]))
    got = {
        (r["_change_type"], r["id"], r["name"])
        for r in p.target.changes(v1, v2, keys=["id"]).collect()
    }
    assert got == want


# --- PNG pixel decode (stdlib zlib + filter reversal) -----------------------


@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    color_type=st.sampled_from([0, 2, 4, 6]),
)
@settings(max_examples=60, deadline=None)
def test_png_decode_inverts_any_filter_sequence(data, w, h, color_type):
    """Forward-filter random pixels with a random per-row filter choice
    (the encoder's freedom under the PNG spec) and require decode_png to
    reconstruct them exactly — the inverse of spec §9 for every filter
    interleaving, not just the golden cases."""
    import struct
    import zlib

    import numpy as np

    from tipoca_stream_spark.operators import multimodal as mm

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    px = np.array(
        data.draw(
            st.lists(
                st.lists(
                    st.lists(st.integers(0, 255), min_size=ch, max_size=ch),
                    min_size=w,
                    max_size=w,
                ),
                min_size=h,
                max_size=h,
            )
        ),
        dtype=np.uint8,
    )
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    stride = w * ch
    flat = px.reshape(h, stride).astype(int)
    raw = bytearray()
    for y, f in enumerate(filters):
        raw.append(f)
        up = flat[y - 1] if y else [0] * stride
        for x in range(stride):
            left = flat[y][x - ch] if x >= ch else 0
            ul = up[x - ch] if x >= ch else 0
            pred = {0: 0, 1: left, 2: up[x], 3: (left + up[x]) // 2,
                    4: paeth(left, up[x], ul)}[f]
            raw.append((flat[y][x] - pred) & 0xFF)

    def chunk(typ, body):
        return (len(body).to_bytes(4, "big") + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, color_type, 0, 0, 0])
    payload = (mm.PNG_SIG + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    out = mm.decode_png(payload)
    assert out is not None and np.array_equal(out, px)
