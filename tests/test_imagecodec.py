"""Round-trip tests for the lossless JPEG (SOF3) and GIF decoders.

The encoders in this file are TEST ORACLES only: an independent lossless
JPEG encoder (T.81 Annex H: every predictor, 2-16-bit precision, point
transform, line-aligned restarts, per-component Huffman tables) and a real
GIF LZW encoder (variable code width, table overflow, optional mid-stream
clears). Both formats are lossless, so every round trip asserts exact
equality. Every other JPEG process must be refused with
NotImplementedError.
"""

from __future__ import annotations

import numpy as np
import pytest

from tipoca_stream_spark.operators.imagecodec import decode_gif, decode_jpeg


# ---------------------------------------------------------------- JPEG ---

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # pad 1s


def _magnitude_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _fixed_table(symbols):
    """Canonical table with all codes the same length: counts + code map."""
    syms = sorted(set(symbols))
    length = max(2, (len(syms) + 1).bit_length())  # len(syms) < 2**length
    counts = [0] * 16
    counts[length - 1] = len(syms)
    codes = {s: (length, i) for i, s in enumerate(syms)}
    return counts, syms, codes


def test_jpeg_not_a_jpeg_returns_none():
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\x89PNG\r\n\x1a\n") is None


# ----------------------------------------------------------------- GIF ---

class _LSBWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        self.acc |= value << self.nbits
        self.nbits += nbits
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0


def _lzw_encode(indices, min_code_size, clear_every=None):
    """Real GIF LZW encoder: dict growth, width growth mirrored to the
    decoder's late-change convention, table-full behavior, optional
    forced mid-stream CLEARs."""
    clear = 1 << min_code_size
    end = clear + 1
    writer = _LSBWriter()

    def reset():
        return {(i,): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, code_size = reset()
    writer.write(clear, code_size)
    w = ()
    since_clear = 0
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        writer.write(table[w], code_size)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # decoder grows width one entry earlier than the encoder's
            # own counter (its table lags by one): late-change rule
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = (k,)
        since_clear += 1
        if clear_every and since_clear >= clear_every:
            writer.write(table[w], code_size)
            writer.write(clear, code_size)
            table, next_code, code_size = reset()
            w = ()
            since_clear = 0
    if w:
        writer.write(table[w], code_size)
    writer.write(end, code_size)
    writer.flush()
    return bytes(writer.out)


def gif_encode(
    indices,
    palette,
    interlace=False,
    clear_every=None,
    local_table=False,
    bg_index=0,
):
    """indices: (h, w) ints; palette: (n, 3) uint8. Returns GIF89a bytes."""
    indices = np.asarray(indices)
    palette = np.asarray(palette, dtype=np.uint8)
    h, w = indices.shape
    n = len(palette)
    size_field = max(0, (n - 1).bit_length() - 1) if n > 1 else 0
    table_n = 2 << size_field
    if table_n < n:
        size_field += 1
        table_n = 2 << size_field
    full = np.zeros((table_n, 3), dtype=np.uint8)
    full[:n] = palette
    mcs = max(2, size_field + 1)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gflags = (0x00 if local_table else 0x80) | size_field
    out += bytes([gflags, bg_index, 0])
    if not local_table:
        out += full.tobytes()
    # a comment extension, to exercise the skip path
    out += bytes([0x21, 0xFE, 4]) + b"test" + bytes([0])
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    iflags = (0x80 if local_table else 0) | (0x40 if interlace else 0) | (
        size_field if local_table else 0
    )
    out += bytes([iflags])
    if local_table:
        out += full.tobytes()
    rows = indices
    if interlace:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(start, h, step))
        rows = indices[order]
    data = _lzw_encode([int(v) for v in rows.reshape(-1)], mcs, clear_every)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


def _palette(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, 3), dtype=np.uint8)


def test_gif_roundtrip_exact():
    rng = np.random.default_rng(10)
    pal = _palette(16, seed=10)
    idx = rng.integers(0, 16, size=(40, 60))
    out = decode_gif(gif_encode(idx, pal))
    assert out.shape == (40, 60, 3)
    assert np.array_equal(out, pal[idx])


def test_gif_solid_color_kwkwk_case():
    pal = _palette(4, seed=11)
    idx = np.full((10, 10), 3)
    out = decode_gif(gif_encode(idx, pal))
    assert np.array_equal(out, pal[idx])


def test_gif_code_width_growth_and_table_overflow():
    # 256-color random image → width grows to 12 bits and the table fills
    rng = np.random.default_rng(12)
    pal = _palette(256, seed=12)
    idx = rng.integers(0, 256, size=(80, 80))
    out = decode_gif(gif_encode(idx, pal))
    assert np.array_equal(out, pal[idx])


def test_gif_mid_stream_clear():
    rng = np.random.default_rng(13)
    pal = _palette(8, seed=13)
    idx = rng.integers(0, 8, size=(32, 32))
    out = decode_gif(gif_encode(idx, pal, clear_every=100))
    assert np.array_equal(out, pal[idx])


def test_gif_interlaced():
    rng = np.random.default_rng(14)
    pal = _palette(32, seed=14)
    idx = rng.integers(0, 32, size=(23, 17))  # odd height: uneven passes
    out = decode_gif(gif_encode(idx, pal, interlace=True))
    assert np.array_equal(out, pal[idx])


def test_gif_local_color_table():
    rng = np.random.default_rng(15)
    pal = _palette(16, seed=15)
    idx = rng.integers(0, 16, size=(12, 12))
    out = decode_gif(gif_encode(idx, pal, local_table=True))
    assert np.array_equal(out, pal[idx])


def test_gif_not_a_gif_and_corrupt():
    assert decode_gif(b"") is None
    assert decode_gif(b"\xff\xd8\xff\xe0") is None
    pal = _palette(4, seed=16)
    idx = np.zeros((4, 4), dtype=int)
    good = gif_encode(idx, pal)
    with pytest.raises(ValueError):
        decode_gif(good[:20])  # truncated after header


def test_gif_decode_via_decode_image():
    from tipoca_stream_spark.operators.multimodal import (
        decode_image,
        decode_image_header,
    )

    rng = np.random.default_rng(17)
    pal = _palette(8, seed=17)
    idx = rng.integers(0, 8, size=(9, 11))
    payload = gif_encode(idx, pal)
    assert decode_image_header(payload) == ("gif", 11, 9)
    assert np.array_equal(decode_image(payload), pal[idx])


# --------------------------------------------- lossless JPEG (SOF3) ---
# Independent second encoder: this implementation of T.81 Annex H was
# written against the spec separately from both
# operators.imagecodec.decode_jpeg AND the package's
# own encode_jpeg_lossless_gray, covering the surface the package encoder
# doesn't (multi-component, 2-16-bit precision, point transform,
# line-aligned restart intervals, per-component Huffman tables).


def _lossless_predict(plane, y, x, predictor, default):
    if y == 0:
        return int(plane[0, x - 1]) if x else default
    if x == 0:
        return int(plane[y - 1, 0])
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
    return {
        1: ra,
        2: rb,
        3: rc,
        4: ra + rb - rc,
        5: ra + ((rb - rc) >> 1),
        6: rb + ((ra - rc) >> 1),
        7: (ra + rb) >> 1,
    }[predictor]


def jpeg_encode_lossless(
    px, predictor=1, precision=8, point_transform=0, restart_rows=0
):
    """Encode (h, w) or (h, w, c) integer samples as lossless JPEG.

    Returns (payload, expected): expected is the exact decode result —
    the point-transformed samples scaled back up, per T.81 A.4.1.
    """
    px = np.atleast_3d(np.asarray(px, dtype=np.int64))
    h, w, ncomp = px.shape
    pt = point_transform
    shifted = px >> pt  # encoder-side point transform (A.4.1)
    expected = (shifted << pt).astype(np.uint8 if precision <= 8 else np.uint16)

    # per-component diff streams, sample-interleaved scan order, restart
    # intervals restarting prediction like a fresh scan
    default = 1 << (precision - pt - 1)
    rows_per = restart_rows if restart_rows else h
    intervals = []  # list of per-interval diff lists [(ci, diff), ...]
    for y0 in range(0, h, rows_per):
        diffs = []
        seg = shifted[y0 : y0 + rows_per]
        for y in range(seg.shape[0]):
            for x in range(w):
                for ci in range(ncomp):
                    pred = _lossless_predict(seg[:, :, ci], y, x, predictor, default)
                    d = (int(seg[y, x, ci]) - pred + 32768) % 65536 - 32768
                    diffs.append((ci, d))
        intervals.append(diffs)

    def cat(v):
        return abs(int(v)).bit_length()

    # Huffman table per component id class: comp 0 -> table 0, rest -> 1
    tsel = [0 if ci == 0 else 1 for ci in range(ncomp)]
    syms = {0: [], 1: []}
    for diffs in intervals:
        for ci, d in diffs:
            syms[tsel[ci]].append(cat(d))
    tables = {
        tid: _fixed_table(s or [0]) for tid, s in syms.items() if s or tid == 0
    }

    out = bytearray(b"\xff\xd8")

    def segment(marker, body):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(body) + 2).to_bytes(2, "big"))
        out.extend(body)

    sof = bytearray([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    segment(0xC3, bytes(sof))
    for tid, (counts, symbols, _) in sorted(tables.items()):
        segment(0xC4, bytes([tid] + counts + symbols))
    if restart_rows:
        segment(0xDD, (restart_rows * w).to_bytes(2, "big"))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, tsel[ci] << 4])
    sos += bytes([predictor, 0, pt])
    segment(0xDA, bytes(sos))

    for k, diffs in enumerate(intervals):
        writer = _BitWriter()
        for ci, d in diffs:
            _, _, codes = tables[tsel[ci]]
            s = cat(d)
            length, code = codes[s]
            writer.write(code, length)
            if s and s != 16:  # SSSS=16 codes diff 32768 with no bits
                writer.write(_magnitude_bits(d, s), s)
        writer.flush()
        out.extend(writer.out)
        if k < len(intervals) - 1:
            out.extend(bytes([0xFF, 0xD0 + (k % 8)]))
    out.extend(b"\xff\xd9")
    return bytes(out), expected


def _lossless_px(h, w, ncomp=1, top=255, seed=0):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, top + 1, size=(h, w, ncomp)).astype(np.int64)
    return a[:, :, 0] if ncomp == 1 else a


def test_jpeg_lossless_all_predictors_bit_exact():
    px = _lossless_px(19, 13, seed=10)
    for predictor in range(1, 8):
        payload, expected = jpeg_encode_lossless(px, predictor=predictor)
        out = decode_jpeg(payload)
        assert out.dtype == np.uint8
        assert np.array_equal(out, expected), predictor
        assert np.array_equal(out[:, :, 0], px)  # truly lossless


def test_jpeg_lossless_rgb_no_color_transform():
    # 3-component lossless carries source samples verbatim: decode must
    # NOT apply the JFIF YCbCr transform
    px = _lossless_px(9, 11, ncomp=3, seed=11)
    payload, expected = jpeg_encode_lossless(px, predictor=4)
    out = decode_jpeg(payload)
    assert out.shape == (9, 11, 3)
    assert np.array_equal(out, expected)
    assert np.array_equal(out.astype(np.int64), px)


def test_jpeg_lossless_16bit_and_ssss16_escape():
    # alternating 0 / 32768 with predictor 1 forces diff = +-32768 ==
    # 32768 (mod 65536): the SSSS=16 no-extra-bits escape (H.1.2.2)
    px = np.zeros((4, 6), dtype=np.int64)
    px[:, 1::2] = 32768
    payload, expected = jpeg_encode_lossless(px, predictor=1, precision=16)
    out = decode_jpeg(payload)
    assert out.dtype == np.uint16
    assert np.array_equal(out[:, :, 0].astype(np.int64), px)
    # plus a random 16-bit raster across all predictors
    px = _lossless_px(8, 8, top=65535, seed=12)
    for predictor in (2, 4, 7):
        payload, _ = jpeg_encode_lossless(px, predictor=predictor, precision=16)
        assert np.array_equal(
            decode_jpeg(payload)[:, :, 0].astype(np.int64), px
        ), predictor


def test_jpeg_lossless_12bit_precision():
    px = _lossless_px(10, 7, top=4095, seed=13)
    payload, expected = jpeg_encode_lossless(px, predictor=6, precision=12)
    out = decode_jpeg(payload)
    assert out.dtype == np.uint16
    assert np.array_equal(out[:, :, 0].astype(np.int64), px)


def test_jpeg_lossless_point_transform():
    px = _lossless_px(12, 12, seed=14)
    payload, expected = jpeg_encode_lossless(px, predictor=5, point_transform=2)
    out = decode_jpeg(payload)
    # decoded samples are the Pt-shifted values scaled back: low 2 bits zero
    assert np.array_equal(out, expected)
    assert np.array_equal(out[:, :, 0].astype(np.int64), (px >> 2) << 2)
    assert not np.any(out & 0b11)


def test_jpeg_lossless_line_aligned_restarts():
    px = _lossless_px(20, 9, seed=15)
    payload, expected = jpeg_encode_lossless(px, predictor=4, restart_rows=3)
    assert any(
        payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD7
        for i in range(len(payload) - 1)
    )
    out = decode_jpeg(payload)
    assert np.array_equal(out[:, :, 0].astype(np.int64), px)


def test_jpeg_lossless_gates():
    px = _lossless_px(8, 8, seed=16)
    payload, _ = jpeg_encode_lossless(px, predictor=1)
    # non-line-aligned restart interval: refused, not mis-decoded
    bad = bytearray(payload)
    i = bad.index(b"\xff\xda")
    dri = bytes([0xFF, 0xDD, 0x00, 0x04]) + (5).to_bytes(2, "big")
    bad[i:i] = dri
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bad))
    # subsampled lossless: refused
    bad = bytearray(payload)
    j = bad.index(b"\xff\xc3")
    bad[j + 2 + 2 + 6 + 1] = 0x21  # comp 0 sampling 2x1
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bad))


def test_jpeg_lossless_package_encoder_cross_check():
    from tipoca_stream_spark.operators.imagecodec import (
        encode_jpeg_lossless_gray,
    )

    px8 = _lossless_px(14, 10, seed=17).astype(np.uint8)
    for predictor in range(1, 8):
        a = encode_jpeg_lossless_gray(px8, predictor=predictor)
        b, _ = jpeg_encode_lossless(px8.astype(np.int64), predictor=predictor)
        # two encoders, one decoder, identical pixels — byte streams may
        # differ (table layout), decoded samples may not
        assert np.array_equal(decode_jpeg(a), decode_jpeg(b)), predictor
        assert np.array_equal(decode_jpeg(a)[:, :, 0], px8), predictor


def test_jpeg_lossless_via_decode_image():
    from tipoca_stream_spark.operators.multimodal import (
        decode_image,
        decode_image_header,
    )

    px = _lossless_px(6, 20, seed=18)
    payload, _ = jpeg_encode_lossless(px, predictor=7)
    assert decode_image_header(payload) == ("jpeg", 20, 6)  # (fmt, w, h)
    assert np.array_equal(decode_image(payload)[:, :, 0].astype(np.int64), px)


def test_jpeg_unsupported_process_gated_truncated_raises():
    px = _lossless_px(8, 8, seed=16)
    payload, _ = jpeg_encode_lossless(px, predictor=1)
    # flip SOF3 -> arithmetic lossless (0xCB): refused, not mis-decoded
    arith = bytearray(payload)
    i = arith.index(b"\xff\xc3")
    arith[i + 1] = 0xCB
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))
    # truncated streams: inside the header segments, and inside the scan
    for cut in (len(payload) // 3, len(payload) - 3):
        with pytest.raises(ValueError):
            decode_jpeg(payload[:cut])


@pytest.mark.parametrize(
    "sof", [0xC0, 0xC1, 0xC2, 0xC9, 0xCA, 0xCB], ids=lambda m: f"{m:#04x}"
)
def test_jpeg_arith_lossless_still_gated(sof):
    # only lossless SOF3 decodes: a DCT (baseline, extended, progressive)
    # or arithmetic-coded frame is an honest NotImplementedError, through
    # the codec and through the multimodal entry point alike
    from tipoca_stream_spark.operators.multimodal import decode_image

    px = _lossless_px(8, 8, seed=30)
    payload, _ = jpeg_encode_lossless(px, predictor=1)
    bad = bytearray(payload)
    bad[bad.index(b"\xff\xc3") + 1] = sof
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bad))
    with pytest.raises(NotImplementedError):
        decode_image(bytes(bad))


# --- native-vs-pure parity and the compile cache ------------------------


def test_so_cache_is_user_private_and_verified(tmp_path):
    """ADVICE r9: the compiled .so must live in a user-private (0700)
    cache and be ownership/permission-verified before ctypes.CDLL — a
    world-writable predictable path lets another local user pre-plant
    code that would run inside every executor decoding a JPEG."""
    import os
    import stat

    from tipoca_stream_spark.operators import imagecodec as ic

    # the live cache dir (if the native path compiled) is 0700 and ours
    d = ic._so_cache_dir("testhash")
    st = os.lstat(d)
    assert st.st_uid == os.getuid()
    assert not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    os.rmdir(d)

    # a group/world-writable cached object is rejected
    bad = tmp_path / "evil.so"
    bad.write_bytes(b"not a real so")
    os.chmod(bad, 0o666)
    import pytest as _pytest

    with _pytest.raises(PermissionError):
        ic._verify_private_file(str(bad))
    os.chmod(bad, 0o600)
    ic._verify_private_file(str(bad))  # ours + private: accepted


def test_gif_lzw_native_matches_pure():
    """Round 10b: the compiled GIF LZW must be byte-identical to the
    Python loop — on real encoder output (round-trips through
    _lzw_encode, exercising table growth, width changes, clear codes)
    AND on random junk streams, where both paths must produce the same
    output or raise the same ValueError."""
    from tipoca_stream_spark.operators import imagecodec as ic

    if ic._native_lib() is None:
        import pytest as _pytest

        _pytest.skip("no C compiler on this host")
    rng = np.random.default_rng(41)

    # encoder round-trips across min code sizes and repetitive inputs
    # (KwKwK arises from runs like aaaa...)
    for mcs in (2, 4, 8):
        alphabet = 1 << mcs
        for kind in ("runs", "random", "alternating"):
            if kind == "runs":
                idx = np.repeat(
                    rng.integers(0, alphabet, 50), rng.integers(1, 30, 50)
                )
            elif kind == "random":
                idx = rng.integers(0, alphabet, 3000)
            else:
                idx = np.tile(np.arange(min(alphabet, 4)), 800)
            idx = [int(v) for v in idx]
            data = ic._lzw_encode(idx, mcs)
            pure = ic._lzw_decode(data, mcs, len(idx))
            fast = ic._lzw_decode_fast(data, mcs, len(idx))
            assert list(fast) == list(pure) == idx, (mcs, kind)

    # junk fuzz: identical output or identical error
    for trial in range(300):
        mcs = int(rng.integers(2, 9))
        data = bytes(rng.integers(0, 256, size=rng.integers(1, 120),
                                  dtype=np.uint8))
        maxpx = int(rng.integers(1, 500))
        try:
            pure = ic._lzw_decode(data, mcs, maxpx)
            pure_err = None
        except ValueError as e:
            pure, pure_err = None, str(e)
        try:
            fast = ic._lzw_decode_fast(data, mcs, maxpx)
            fast_err = None
        except ValueError as e:
            fast, fast_err = None, str(e)
        assert pure_err == fast_err, (trial, pure_err, fast_err)
        if pure_err is None:
            assert list(fast) == list(pure), trial


def test_lossless_native_matches_pure():
    """Round 10b: the compiled lossless-JPEG segment walk must be
    byte-identical to the per-sample Python loop — every predictor,
    8/12/16-bit precisions, restart intervals, and a point transform."""
    from tipoca_stream_spark.operators import imagecodec as ic

    if ic._native_lib() is None:
        import pytest as _pytest

        _pytest.skip("no C compiler on this host")
    rng = np.random.default_rng(47)

    def both(payload):
        native = ic.decode_jpeg(payload)
        saved, ic._NATIVE = ic._NATIVE, None
        saved_t, ic._NATIVE_TRIED = ic._NATIVE_TRIED, True
        try:
            pure = ic.decode_jpeg(payload)
        finally:
            ic._NATIVE, ic._NATIVE_TRIED = saved, saved_t
        assert native is not None and pure is not None
        assert native.dtype == pure.dtype
        assert np.array_equal(native, pure)
        return native

    for pred in range(1, 8):
        px = rng.integers(0, 256, size=(13, 17), dtype=np.int64)
        payload = ic.encode_jpeg_lossless_gray(px, predictor=pred)
        out = both(payload)
        assert np.array_equal(out[:, :, 0], px), f"pred {pred} roundtrip"
    # smooth image (small diffs, the common SSSS range)
    px = (np.cumsum(rng.integers(-2, 3, size=29 * 31)) % 256).reshape(29, 31)
    both(ic.encode_jpeg_lossless_gray(px.astype(np.int64), predictor=7))


def test_lossless_malformed_ssss_rejected_both_paths():
    """ADVICE r10: a lossless-scan DHT symbol in 17..255 (other than the
    SSSS=16 escape) must be rejected as an invalid Huffman code on BOTH
    entropy paths — the C segment walk previously reached read_bits with
    s > 64 (a UB shift) while the pure path returned defined garbage."""
    import pytest as _pytest

    from tipoca_stream_spark.operators import imagecodec as ic

    px = np.arange(20, dtype=np.int64).reshape(4, 5) % 256
    payload = bytearray(ic.encode_jpeg_lossless_gray(px, predictor=1))
    # patch every DHT symbol byte that is a valid SSSS (1..16) to 99
    i = 0
    while i < len(payload) - 1:
        if payload[i] == 0xFF and payload[i + 1] == 0xC4:
            ln = int.from_bytes(payload[i + 2 : i + 4], "big")
            body_start = i + 4
            counts = payload[body_start + 1 : body_start + 17]
            n_syms = sum(counts)
            sym_start = body_start + 17
            for k in range(n_syms):
                if 1 <= payload[sym_start + k] <= 16:
                    payload[sym_start + k] = 99
            i += 2 + ln
        else:
            i += 1
    payload = bytes(payload)

    with _pytest.raises(ValueError):  # native path (or pure where no cc)
        ic.decode_jpeg(payload)
    saved, ic._NATIVE = ic._NATIVE, None
    saved_t, ic._NATIVE_TRIED = ic._NATIVE_TRIED, True
    try:
        with _pytest.raises(ValueError):  # pure path
            ic.decode_jpeg(payload)
    finally:
        ic._NATIVE, ic._NATIVE_TRIED = saved, saved_t


def test_lossless_scan_order_differs_from_frame_order_both_paths():
    """An MCU holds its samples in scan-header order (T.81 A.2.3), which
    need not be the frame's component order: both entropy paths must
    route each sample, with its own Huffman table, to the component the
    scan header names. A scan listing one component twice is corrupt."""
    from tipoca_stream_spark.operators import imagecodec as ic

    px = _lossless_px(5, 7, ncomp=2, seed=31)
    payload, expected = jpeg_encode_lossless(px, predictor=4)
    # swap the frame's component ids: the scan still lists id 1 then id 2,
    # so frame component 0 (now id 2) receives the scan's second samples
    swapped = bytearray(payload)
    j = swapped.index(b"\xff\xc3") + 4 + 6
    swapped[j], swapped[j + 3] = 2, 1
    dup = bytearray(payload)
    k = dup.index(b"\xff\xda") + 4
    dup[k + 3] = dup[k + 1]  # second scan component repeats the first

    def both(data):
        native = ic.decode_jpeg(data)
        saved, ic._NATIVE = ic._NATIVE, None
        saved_t, ic._NATIVE_TRIED = ic._NATIVE_TRIED, True
        try:
            pure = ic.decode_jpeg(data)
        finally:
            ic._NATIVE, ic._NATIVE_TRIED = saved, saved_t
        return native, pure

    for out in both(bytes(swapped)):
        assert np.array_equal(out, expected[:, :, ::-1])
    with pytest.raises(ValueError):
        both(bytes(dup))
