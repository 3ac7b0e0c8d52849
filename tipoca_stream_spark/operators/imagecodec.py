"""Lossless image codecs for the multimodal columns, written against the
public specifications (ITU-T T.81 for JPEG, GIF89a for GIF) with no
external codec library:

- ``decode_jpeg``: lossless sequential JPEG (SOF3, T.81 Annex H) —
  predictors 1-7, point transform, 2-16-bit precision, line-aligned
  restarts. Components come back exactly as stored (no colour
  transform), so the round trip through ``encode_jpeg_lossless_gray``
  is bit-exact and SQL-oracle-checkable. Every other JPEG process
  (baseline, extended-sequential and progressive DCT, arithmetic
  coding, hierarchical) raises NotImplementedError: no registered
  query reads a lossy JPEG.
- ``decode_gif``: GIF87a/89a first frame — logical screen + colour
  tables, LZW decompression (variable code width, deferred clear, KwKwK
  case), interlace reordering, composed onto the logical-screen canvas.
- ``encode_jpeg_lossless_gray`` / ``encode_gif_gray``: the data-plane
  encoders of ``multimodal.pixel_roundtrip_stats`` and
  ``phash.phash_from_documents``.

Reference parity note: the reference system (practo/tipoca-stream) has no
image pipeline at all — this module exists for the training-data-pipeline
surface (multimodal columns), where decode runs inside Arrow-batched
``mapInPandas``.

Where a C compiler exists, the three per-sample loops — the lossless-JPEG
segment walk, GIF LZW decode, and the PNG unfilter behind
``multimodal.decode_png`` — run as compiled translations of their Python
twins (``_native_lib``); tests pin native-vs-pure parity for each. Hosts
without a compiler decode through the Python paths, with the same
answers.
"""

from __future__ import annotations

_SOF_LOSSLESS = 0xC3  # lossless sequential, Huffman: the one decoded process
# Every other frame type of T.81 Table B.1 is refused by name.
_SOF_UNSUPPORTED = {
    0xC0: "baseline DCT",
    0xC1: "extended sequential DCT",
    0xC2: "progressive DCT",
    0xC5: "differential sequential DCT",
    0xC6: "differential progressive DCT",
    0xC7: "differential lossless",
    0xC9: "arithmetic extended sequential DCT",
    0xCA: "arithmetic progressive DCT",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential DCT",
    0xCE: "differential arithmetic progressive DCT",
    0xCF: "differential arithmetic lossless",
}

_ENTROPY_C = r"""
#include <stdint.h>
#include <string.h>

typedef struct {
    const uint8_t *d;
    long n;
    long bp;
    uint64_t acc;
    int nbits;
} bitreader;

/* MSB-first reader over a destuffed entropy segment.  Past the end it
   produces 1-bits (T.81 F.1.2.3 padding) — the same over-read tolerance
   as the Python _BitReader.  When >= 6 bytes remain it refills 48 bits
   in one shot; with nbits <= 16 on entry (every consumer peeks or reads
   at most 16 bits) the result fits the 64-bit accumulator. */
static void fill(bitreader *r, int need) {
    r->acc &= ((((uint64_t)1) << r->nbits) - 1);
    if (r->nbits <= 16 && r->bp + 6 <= r->n) {
        const uint8_t *p = r->d + r->bp;
        uint64_t chunk =
            ((uint64_t)p[0] << 40) | ((uint64_t)p[1] << 32) |
            ((uint64_t)p[2] << 24) | ((uint64_t)p[3] << 16) |
            ((uint64_t)p[4] << 8) | (uint64_t)p[5];
        r->acc = (r->acc << 48) | chunk;
        r->nbits += 48;
        r->bp += 6;
        return;
    }
    while (r->nbits < need) {
        uint8_t b = 0xFF;
        if (r->bp < r->n) b = r->d[r->bp++];
        r->acc = (r->acc << 8) | b;
        r->nbits += 8;
    }
}

static int peek16(bitreader *r) {
    if (r->nbits < 16) fill(r, 16);
    return (int)((r->acc >> (r->nbits - 16)) & 0xFFFF);
}

static int read_bits(bitreader *r, int k) {
    if (k == 0) return 0;
    if (r->nbits < k) fill(r, k);
    r->nbits -= k;
    return (int)((r->acc >> r->nbits) & ((((uint64_t)1) << k) - 1));
}

static int extend_v(int v, int s) {
    return (v < (1 << (s - 1))) ? v - ((1 << s) - 1) : v;
}

/* PNG per-row unfilter (round 10b; PNG spec 9: None/Sub/Up/Average/
   Paeth).  multimodal.decode_png's pure path undoes Sub/Average/Paeth
   with a per-PIXEL Python loop (the left-neighbor dependency defeats
   numpy) — ~0.3 MB/s on photographic images, the decoder family's
   worst remaining floor.  rows is the inflated stream as h rows of
   (1 filter byte + stride data bytes); out receives h*stride unfiltered
   bytes.  uint8 wraparound == the Python path's & 0xFF.  Returns -1 on
   an unknown filter type (caller raises the same ValueError). */
int png_unfilter(const uint8_t *rows, long h, long stride, int ch,
                 uint8_t *out)
{
    long y, x;
    for (y = 0; y < h; y++) {
        const uint8_t *line = rows + y * (stride + 1) + 1;
        const uint8_t *up = (y > 0) ? out + (y - 1) * stride : NULL;
        uint8_t *cur = out + y * stride;
        int f = rows[y * (stride + 1)];
        if (f == 0) {
            memcpy(cur, line, stride);
        } else if (f == 2) {
            if (up) { for (x = 0; x < stride; x++) cur[x] = (uint8_t)(line[x] + up[x]); }
            else memcpy(cur, line, stride);
        } else if (f == 1) {
            for (x = 0; x < stride && x < ch; x++) cur[x] = line[x];
            for (x = ch; x < stride; x++)
                cur[x] = (uint8_t)(line[x] + cur[x - ch]);
        } else if (f == 3) {
            for (x = 0; x < stride && x < ch; x++)
                cur[x] = (uint8_t)(line[x] + ((up ? up[x] : 0) >> 1));
            for (x = ch; x < stride; x++)
                cur[x] = (uint8_t)(line[x]
                                   + ((cur[x - ch] + (up ? up[x] : 0)) >> 1));
        } else if (f == 4) {
            for (x = 0; x < stride; x++) {
                int left = (x >= ch) ? cur[x - ch] : 0;
                int u = up ? up[x] : 0;
                int ul = (up && x >= ch) ? up[x - ch] : 0;
                int p = left + u - ul;
                int pa = p - left; if (pa < 0) pa = -pa;
                int pb = p - u;    if (pb < 0) pb = -pb;
                int pc = p - ul;   if (pc < 0) pc = -pc;
                cur[x] = (uint8_t)(line[x]
                    + ((pa <= pb && pa <= pc) ? left : ((pb <= pc) ? u : ul)));
            }
        } else {
            return -1;
        }
    }
    return 0;
}

/* Lossless-JPEG scan segment (T.81 Annex H; round 10b) — mirrors the
   Python per-sample loop exactly: LUT Huffman SSSS decode (SSSS == 16
   coded without extra bits as +32768), predictors 1-7 with the
   first-line 1-D rule and the Rb rule at line starts, reconstruction
   modulo 65536.  Decodes rows [y0, y0 + n_rows) of every component
   (1x1 sampling: one sample per component per pixel) into caller-owned
   int64 planes of width w; planes and tables come in scan-header
   order.  GCC's arithmetic >> on negatives matches Python's floor
   shift.  Returns 0 or -1 for an invalid Huffman code. */
int jpeg_decode_lossless_segment(
    const uint8_t *data, long nbytes,
    long y0, long n_rows, long w, int ncomp,
    const int16_t *const *dc_sym, const uint8_t *const *dc_len,
    int predictor, long default_pred,
    int64_t **plane_ptrs)
{
    bitreader r = {data, nbytes, 0, 0, 0};
    long y, x;
    int ci;
    for (y = y0; y < y0 + n_rows; y++) {
        int first_line = (y == y0);
        for (x = 0; x < w; x++) {
            for (ci = 0; ci < ncomp; ci++) {
                int64_t *plane = plane_ptrs[ci];
                const int16_t *ds = dc_sym[ci];
                const uint8_t *dl = dc_len[ci];
                int v = peek16(&r);
                int L = dl[v];
                int s;
                int64_t diff, px;
                if (L == 0) return -1;
                r.nbits -= L;
                s = ds[v];
                if (s == 16) diff = 32768;
                else if (s > 16) return -1; /* malformed DHT symbol: a
                    17..255 SSSS would reach read_bits with k > 64 (UB
                    shift); reject like an invalid Huffman code, matching
                    the pure path's ValueError */
                else diff = s ? extend_v(read_bits(&r, s), s) : 0;
                if (first_line) {
                    px = x ? plane[y * w + x - 1] : default_pred;
                } else if (x == 0) {
                    px = plane[(y - 1) * w];
                } else {
                    int64_t ra = plane[y * w + x - 1];
                    int64_t rb = plane[(y - 1) * w + x];
                    int64_t rc = plane[(y - 1) * w + x - 1];
                    switch (predictor) {
                    case 1: px = ra; break;
                    case 2: px = rb; break;
                    case 3: px = rc; break;
                    case 4: px = ra + rb - rc; break;
                    case 5: px = ra + ((rb - rc) >> 1); break;
                    case 6: px = rb + ((ra - rc) >> 1); break;
                    default: px = (ra + rb) >> 1; break;
                    }
                }
                plane[y * w + x] = (px + diff) & 0xFFFF;
            }
        }
    }
    return 0;
}

/* GIF LZW decode (round 10b) — mirrors _lzw_decode exactly: LSB-first
   packed codes, variable width with growth AFTER emission, clear/end
   codes, KwKwK, table capped at 4096, output tolerated past max_pixels
   by one final entry (the Python path extends THEN checks).  The table
   is (prefix, last char, first char, length) arrays; entries emit by
   walking the prefix chain backwards straight into out.  out must hold
   max_pixels + 4097 bytes.  Returns 0 with *n_out set, -1 for a first
   code not in the root table, -2 for a code past next_code. */
int gif_lzw_decode(const uint8_t *data, long nbytes, int min_code_size,
                   long max_pixels, uint8_t *out, long *n_out)
{
    int clear = 1 << min_code_size;
    int end = clear + 1;
    int code_size = min_code_size + 1;
    int next_code = end + 1;
    uint16_t prefix[4096];
    uint8_t lastc[4096], firstc[4096];
    int32_t len_[4096];
    uint64_t acc = 0;
    int nbits = 0, prev = -1, i;
    long pos = 0, n = 0;
    for (i = 0; i < clear && i < 4096; i++) {
        prefix[i] = 0xFFFF; lastc[i] = (uint8_t)i;
        firstc[i] = (uint8_t)i; len_[i] = 1;
    }
    while (pos < nbytes) {
        acc |= ((uint64_t)data[pos++]) << nbits;
        nbits += 8;
        while (nbits >= code_size) {
            int code = (int)(acc & ((1u << code_size) - 1));
            long L, j;
            int c;
            acc >>= code_size;
            nbits -= code_size;
            if (code == clear) {
                code_size = min_code_size + 1;
                next_code = end + 1;
                prev = -1;
                continue;
            }
            if (code == end) { *n_out = n; return 0; }
            if (prev < 0) {
                if (code >= clear) return -1;
            } else if (code < next_code) {
                /* in-table (clear/end can't reach here) */
                if (next_code < 4096) {
                    prefix[next_code] = (uint16_t)prev;
                    lastc[next_code] = firstc[code];
                    firstc[next_code] = firstc[prev];
                    len_[next_code] = len_[prev] + 1;
                    next_code += 1;
                }
            } else if (code == next_code) {  /* KwKwK */
                if (next_code < 4096) {
                    prefix[next_code] = (uint16_t)prev;
                    lastc[next_code] = firstc[prev];
                    firstc[next_code] = firstc[prev];
                    len_[next_code] = len_[prev] + 1;
                    next_code += 1;
                    code = next_code - 1;  /* emit the entry just built */
                } else {
                    return -2;  /* unreachable: codes stop at 4095 */
                }
            } else {
                return -2;
            }
            L = len_[code];
            for (j = L - 1, c = code; j >= 0; j--) {
                out[n + j] = lastc[c];
                c = prefix[c];
            }
            n += L;
            if (n > max_pixels) { *n_out = n; return 0; }
            if (next_code == (1 << code_size) && code_size < 12)
                code_size += 1;
            prev = code;
        }
    }
    *n_out = n;
    return 0;
}
"""

_NATIVE = None  # kernel name -> ctypes function, once loaded
_NATIVE_TRIED = False


def _so_cache_dir(h: str):
    """User-PRIVATE compile cache (ADVICE r9: the old location under
    tempfile.gettempdir() was predictable and world-writable — another
    local user could pre-plant the .so and get code execution inside
    every executor that decodes a JPEG). Preference order: $XDG_CACHE_HOME
    / ~/.cache (created 0700), else a fresh mkdtemp (0700 by contract).
    The directory is REJECTED — caller falls back to pure Python — unless
    it is owned by us and not group/other-writable."""
    import os
    import stat
    import tempfile

    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    cache = os.path.join(base, f"tipoca_jpeg_{h}")
    try:
        os.makedirs(cache, mode=0o700, exist_ok=True)
    except OSError:
        cache = tempfile.mkdtemp(prefix=f"tipoca_jpeg_{h}_")
    st = os.lstat(cache)
    if (
        not stat.S_ISDIR(st.st_mode)
        or st.st_uid != os.getuid()
        or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        raise PermissionError(f"unsafe .so cache dir: {cache}")
    return cache


def _verify_private_file(path: str) -> None:
    """A cached .so must be a regular file we own with no group/other
    write bit — anything else is treated as hostile and the pure-Python
    path serves instead."""
    import os
    import stat

    st = os.lstat(path)
    if (
        not stat.S_ISREG(st.st_mode)
        or st.st_uid != os.getuid()
        or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        raise PermissionError(f"unsafe cached shared object: {path}")


def _native_lib():
    """Compile-and-load the C kernels, once per process; any failure (no
    compiler, read-only cache, unsafe ownership/permissions, exotic
    platform) falls back to the pure Python path — same answers,
    slower. The cache key is the source hash so a code change can never
    load a stale binary; the rename is atomic so concurrent executor
    workers race safely to the same file; the cache dir is user-private
    (0700) and both dir and .so are ownership/permission-verified before
    ctypes.CDLL."""
    global _NATIVE, _NATIVE_TRIED
    if _NATIVE_TRIED:
        return _NATIVE
    _NATIVE_TRIED = True
    try:
        import ctypes
        import hashlib
        import os
        import subprocess

        # flags ride the cache key so a flag change can never load a
        # stale binary
        flags = ["-O3"]
        h = hashlib.sha1(
            (_ENTROPY_C + " | " + " ".join(flags)).encode()
        ).hexdigest()[:12]
        cache = _so_cache_dir(h)
        so = os.path.join(cache, "jpeg_entropy.so")
        if not os.path.exists(so):
            cpath = os.path.join(cache, "jpeg_entropy.c")
            with open(cpath, "w") as f:
                f.write(_ENTROPY_C)
            tmp_so = f"{so}.{os.getpid()}"
            subprocess.run(
                ["cc", *flags, "-shared", "-fPIC", "-o", tmp_so, cpath],
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.chmod(tmp_so, 0o600)
            os.replace(tmp_so, so)
        _verify_private_file(so)
        lib = ctypes.CDLL(so)
        unfilter = lib.png_unfilter
        unfilter.restype = ctypes.c_int
        unfilter.argtypes = [
            ctypes.c_void_p,  # rows: h * (1 filter byte + stride bytes)
            ctypes.c_long,  # h
            ctypes.c_long,  # stride (bytes per unfiltered row)
            ctypes.c_int,  # ch (bytes per pixel at 8-bit depth)
            ctypes.c_void_p,  # out uint8[h*stride]
        ]
        lossless = lib.jpeg_decode_lossless_segment
        lossless.restype = ctypes.c_int
        lossless.argtypes = [
            ctypes.c_char_p,  # destuffed segment
            ctypes.c_long,  # nbytes
            ctypes.c_long,  # y0
            ctypes.c_long,  # n_rows
            ctypes.c_long,  # w
            ctypes.c_int,  # ncomp
            ctypes.c_void_p,  # dc_sym ptrs
            ctypes.c_void_p,  # dc_len ptrs
            ctypes.c_int,  # predictor
            ctypes.c_long,  # default_pred
            ctypes.c_void_p,  # plane ptrs int64**
        ]
        lzw = lib.gif_lzw_decode
        lzw.restype = ctypes.c_int
        lzw.argtypes = [
            ctypes.c_char_p,  # packed LZW stream
            ctypes.c_long,  # nbytes
            ctypes.c_int,  # min_code_size
            ctypes.c_long,  # max_pixels
            ctypes.c_void_p,  # out uint8[max_pixels + 4097]
            ctypes.c_void_p,  # n_out long*
        ]
        _NATIVE = {
            "png_unfilter": unfilter, "gif_lzw": lzw, "lossless": lossless,
        }
    except Exception:
        _NATIVE = None
    return _NATIVE


class _HuffTable:
    """Canonical Huffman table (T.81 Annex C) compiled to a 16-bit-peek
    lookup: ``lut_sym[peek16]``/``lut_len[peek16]`` give the decoded
    symbol and its code length in ONE list index each. Every 16-bit word
    whose prefix is code c maps to c's symbol — the standard
    table-driven multi-bit decode every fast JPEG decoder uses (public
    technique; max code length 16 makes the table exactly 2^16 entries).
    ``lut_len`` 0 marks an invalid prefix. Plain Python lists beat numpy
    here: single-element list indexing is ~2× faster than numpy scalar
    indexing in the interpreter loop."""

    __slots__ = ("lut_sym", "lut_len", "_np")

    def __init__(self, counts, symbols):
        self.lut_sym = [0] * 65536
        self.lut_len = [0] * 65536
        self._np = None
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                lo = code << (16 - length)
                hi = (code + 1) << (16 - length)
                self.lut_sym[lo:hi] = [symbols[k]] * (hi - lo)
                self.lut_len[lo:hi] = [length] * (hi - lo)
                code += 1
                k += 1
            code <<= 1

    def np_tables(self):
        """(sym int16[65536], len uint8[65536]) — the C fast path's view
        of the same LUT, built once per table."""
        if self._np is None:
            import numpy as np

            self._np = (
                np.asarray(self.lut_sym, dtype=np.int16),
                np.asarray(self.lut_len, dtype=np.uint8),
            )
        return self._np


_HUFF_CACHE: dict = {}


def _build_huffman(counts, symbols):
    """DHT counts/symbols → LUT decode table (see _HuffTable), cached by
    table CONTENT: building the 2^16-entry LUT plus its numpy view costs
    more than decoding a small image, and the data-plane encoder emits
    the same few tables over and over. _HuffTable is immutable after
    construction (lut lists written only in __init__, np view built
    once), so sharing across decodes — and across mapInPandas rows in one
    executor — is safe. Bounded: cleared wholesale past 64 distinct
    tables (a corpus with unbounded distinct DHTs would otherwise grow
    the worker resident set)."""
    key = (bytes(counts), bytes(symbols))
    t = _HUFF_CACHE.get(key)
    if t is None:
        if len(_HUFF_CACHE) >= 64:
            _HUFF_CACHE.clear()
        t = _HUFF_CACHE[key] = _HuffTable(counts, symbols)
    return t


class _BitReader:
    """MSB-first bit reader over a destuffed entropy segment, built
    around a bounded integer accumulator so multi-bit reads are O(1)
    shifts instead of per-bit loops. ``peek16``+``skip`` is the
    LUT-decode fast path (_decode_symbol). Past the end of the data the
    reader keeps producing 1-bits — the final byte's padding per T.81
    F.1.2.3, and the same over-read tolerance the per-bit reader had."""

    __slots__ = ("d", "n", "bp", "acc", "nbits")

    def __init__(self, data: bytes):
        self.d = data
        self.n = len(data)
        self.bp = 0  # next byte index
        self.acc = 0  # low ``nbits`` bits are unconsumed stream bits
        self.nbits = 0

    def _fill(self, need: int) -> None:
        acc = self.acc & ((1 << self.nbits) - 1)  # keep acc bounded
        nbits, bp, d, n = self.nbits, self.bp, self.d, self.n
        while nbits < need:
            acc = (acc << 8) | (d[bp] if bp < n else 0xFF)
            bp += 1
            nbits += 8
        self.acc, self.nbits, self.bp = acc, nbits, bp

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)


def _decode_symbol(reader: _BitReader, table: _HuffTable) -> int:
    v = reader.peek16()
    length = table.lut_len[v]
    if length == 0:
        raise ValueError("invalid JPEG Huffman code")
    reader.nbits -= length  # consume the code (peek16 filled ≥16 bits)
    return table.lut_sym[v]


def _extend(v: int, s: int) -> int:
    # T.81 F.12: map an s-bit magnitude to its signed value.
    return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


def _parse_dht(body: bytes, huff: dict) -> None:
    """DHT segment → decode tables keyed by (class, id)."""
    i = 0
    while i + 17 <= len(body):
        tc, th = body[i] >> 4, body[i] & 0x0F
        counts = list(body[i + 1 : i + 17])
        total = sum(counts)
        symbols = list(body[i + 17 : i + 17 + total])
        if len(symbols) < total:
            raise ValueError("truncated DHT")
        huff[(tc, th)] = _build_huffman(counts, symbols)
        i += 17 + total


def _split_entropy_segments(payload: bytes, pos: int):
    """Destuff the entropy-coded data starting at ``pos``: returns
    (segments, end_pos) where segments are the byte runs between restart
    markers (RST0-7), each with 0xFF00 stuffing removed. Scans with
    ``bytes.find`` so the common long runs of non-0xFF bytes copy as
    slices instead of byte-at-a-time appends (same output, ~50x less
    interpreter work on megabyte scans)."""
    segments = []
    cur = bytearray()
    n = len(payload)
    while pos < n:
        f = payload.find(b"\xff", pos)
        if f == -1:
            cur += payload[pos:]
            pos = n
            break
        cur += payload[pos:f]
        if f + 1 >= n:
            pos = f + 1
            break
        m = payload[f + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos = f + 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            segments.append(bytes(cur))
            cur = bytearray()
            pos = f + 2
        else:  # EOI or next real marker: end of scan
            pos = f
            break
    segments.append(bytes(cur))
    return segments, pos


def decode_jpeg(payload: bytes):
    """Lossless sequential JPEG (SOF3, Huffman) -> (h, w, ncomp) array, or
    None if the payload is not a JPEG.

    Full T.81 Annex H decode: predictors 1-7 (scan header Ss selects),
    point transform (Al = Pt; decoded values are scaled back by 2^Pt per
    A.4.1), sample precision 2-16 bits (uint8 out for P <= 8, uint16
    above), the SSSS = 16 "diff is 32768" escape, and restart markers
    when the restart interval is line-aligned (each interval restarts
    prediction exactly like a new scan, so intervals stay independently
    decodable; non-line-aligned intervals would let Rb reach across a
    restart boundary and are refused — NotImplementedError).

    Components come back EXACTLY as stored — no YCbCr transform, no
    level shift — because lossless JPEG carries source samples verbatim
    (there is no JFIF color contract for process 14); this is what makes
    the encode->decode round trip bit-exact and therefore checkable by a
    plain SQL oracle (see multimodal.pixel_roundtrip_stats).

    Sampling factors other than 1x1 (multi-resolution interleave) raise
    NotImplementedError — real lossless streams (DNG tiles, DICOM
    MONOCHROME) are 1x1. So does every other SOF (DCT, arithmetic,
    hierarchical). A truncated or corrupt stream raises ValueError.
    """
    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None

    huff: dict = {}
    frame = None  # (h, w, [comp_id], precision)
    restart_interval = 0
    scan = None  # ([(comp_index, dc_table)], predictor, pt, entropy_pos)

    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte
            pos -= 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if marker == 0xD9:  # EOI before SOS
            break
        seg_len = int.from_bytes(payload[pos : pos + 2], "big")
        body = payload[pos + 2 : pos + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        pos += seg_len
        if marker == 0xC4:  # DHT
            _parse_dht(body, huff)
        elif marker == _SOF_LOSSLESS:
            precision = body[0]
            if not 2 <= precision <= 16:
                raise ValueError(f"invalid lossless JPEG precision {precision}")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, _tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG not supported (1x1 only)"
                    )
                comps.append(cid)
            frame = (h, w, comps, precision)
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"JPEG process not supported: {_SOF_UNSUPPORTED[marker]} "
                "(lossless SOF3 only)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            comp_ids = frame[2]
            sel = []
            for s in range(ns):
                cs, tables = body[1 + 2 * s : 3 + 2 * s]
                if cs not in comp_ids:
                    raise ValueError("SOS references unknown component")
                sel.append((comp_ids.index(cs), tables >> 4))
            ss, _se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            if not 1 <= ss <= 7:
                raise ValueError(f"invalid lossless predictor {ss}")
            scan = (sel, ss, ahal & 0x0F, pos)
            break
        # else: APPn / COM / DQT — skipped via seg_len

    if frame is None or scan is None:
        raise ValueError("truncated JPEG: no frame/scan data")
    h, w, comp_ids, precision = frame
    if h == 0 or w == 0:
        raise ValueError("zero-dimension JPEG frame")
    sel, predictor, pt, entropy_pos = scan
    if len(sel) != len(comp_ids):
        raise NotImplementedError("multi-scan lossless JPEG")
    if len({ci for ci, _ in sel}) != len(sel):
        raise ValueError("SOS lists a component twice")
    if pt >= precision:
        raise ValueError("point transform >= sample precision")

    # One MCU = one sample per component (1x1 sampling); restart
    # intervals must cover whole lines so prediction never reaches a
    # sample from a previous interval.
    if restart_interval and restart_interval % w != 0:
        raise NotImplementedError(
            "lossless restart interval must be a multiple of the line width"
        )
    segments, end = _split_entropy_segments(payload, entropy_pos)
    if end >= n:
        raise ValueError("truncated JPEG: scan data runs to end of stream")

    ncomp = len(comp_ids)
    tabs = []
    for _ci, dc_id in sel:
        t = huff.get((0, dc_id))
        if t is None:
            raise ValueError("missing Huffman table")
        tabs.append(t)
    planes = [np.zeros((h, w), dtype=np.int64) for _ in range(ncomp)]
    # an MCU holds its samples in scan-header order
    scan_planes = [planes[ci] for ci, _ in sel]

    default_pred = 1 << (precision - pt - 1)
    rows_per_segment = (restart_interval // w) if restart_interval else h
    lib = _native_lib()
    if lib is not None:
        # compiled per-sample walk: mirrors the Python loop below exactly,
        # parity-pinned by a dedicated native-vs-pure test
        import ctypes

        luts = [t.np_tables() for t in tabs]
        dc_s = (ctypes.c_void_p * ncomp)(*[s.ctypes.data for s, _ in luts])
        dc_l = (ctypes.c_void_p * ncomp)(*[ln.ctypes.data for _, ln in luts])
        plane_ptrs = (ctypes.c_void_p * ncomp)(
            *[p.ctypes.data for p in scan_planes]
        )
        y0 = 0
        for seg in segments:
            if y0 >= h:
                break
            n_rows = min(rows_per_segment, h - y0)
            rc = lib["lossless"](
                seg, len(seg), y0, n_rows, w, ncomp,
                ctypes.addressof(dc_s), ctypes.addressof(dc_l),
                predictor, default_pred,
                ctypes.addressof(plane_ptrs),
            )
            if rc == -1:
                raise ValueError("invalid JPEG Huffman code")
            y0 += n_rows
        if y0 < h:
            raise ValueError("missing JPEG restart segment")
        return _finish_lossless(planes, precision, pt)
    mask = 0xFFFF  # T.81 H.1.2.1: reconstruction is modulo 65536
    seg_idx = 0
    reader = _BitReader(segments[0])
    seg_first_row = 0  # first row of the current restart interval
    for y in range(h):
        if restart_interval and y and y % rows_per_segment == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing JPEG restart segment")
            reader = _BitReader(segments[seg_idx])
            seg_first_row = y
        first_line = y == seg_first_row
        for x in range(w):
            for k in range(ncomp):
                plane = scan_planes[k]
                s = _decode_symbol(reader, tabs[k])
                if s == 16:
                    diff = 32768  # H.1.2.2: coded without extra bits
                elif s > 16:
                    # malformed DHT symbol (only 0..16 are valid SSSS in
                    # lossless scans) — same contract as the C segment
                    raise ValueError("invalid Huffman code")
                elif s:
                    diff = _extend(reader.read_bits(s), s)
                else:
                    diff = 0
                if first_line:
                    # 1-D predictor for the interval's first line
                    # (H.1.2.1); its very first sample takes the default.
                    px = int(plane[y, x - 1]) if x else default_pred
                elif x == 0:
                    px = int(plane[y - 1, 0])  # Rb at line start
                else:
                    ra = int(plane[y, x - 1])
                    rb = int(plane[y - 1, x])
                    rc = int(plane[y - 1, x - 1])
                    if predictor == 1:
                        px = ra
                    elif predictor == 2:
                        px = rb
                    elif predictor == 3:
                        px = rc
                    elif predictor == 4:
                        px = ra + rb - rc
                    elif predictor == 5:
                        px = ra + ((rb - rc) >> 1)
                    elif predictor == 6:
                        px = rb + ((ra - rc) >> 1)
                    else:  # 7
                        px = (ra + rb) >> 1
                plane[y, x] = (px + diff) & mask

    return _finish_lossless(planes, precision, pt)


def _finish_lossless(planes, precision: int, pt: int):
    """Shared tail of the native and pure lossless paths: stack, undo
    the point transform, range-check against the declared precision."""
    import numpy as np

    top = (1 << precision) - 1
    dtype = np.uint8 if precision <= 8 else np.uint16
    out = np.stack(planes, axis=-1)
    if pt:
        out = out << pt  # undo the point transform (A.4.1)
    if int(out.max(initial=0)) > top:
        raise ValueError("lossless JPEG sample exceeds declared precision")
    return out.astype(dtype)


def encode_jpeg_lossless_gray(px, predictor: int = 4) -> bytes:
    """Encode a (h, w) uint8 grayscale raster as an 8-bit lossless
    sequential JPEG (SOF3, Huffman, selectable predictor 1-7).

    This is the data-plane encoder for the exact JPEG round trip in
    multimodal.pixel_roundtrip_stats — lossless, so decode(encode(px))
    == px bit-for-bit and integer pixel statistics are SQL-oracle
    checkable. An independent second encoder (full color / precision /
    point-transform / restart coverage) lives in tests/test_imagecodec.py.
    """
    import numpy as np

    px = np.asarray(px, dtype=np.int64)
    if px.ndim != 2:
        raise ValueError("grayscale (h, w) input required")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7")
    h, w = px.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError("unencodable dimensions")
    if px.min() < 0 or px.max() > 255:
        raise ValueError("8-bit samples required")

    # Differences under the selected predictor (scan order), per H.1.2.1.
    def pred(y: int, x: int) -> int:
        if y == 0:
            return int(px[0, x - 1]) if x else 128
        if x == 0:
            return int(px[y - 1, 0])
        ra, rb, rc = int(px[y, x - 1]), int(px[y - 1, x]), int(px[y - 1, x - 1])
        return (
            ra, rb, rc, ra + rb - rc,
            ra + ((rb - rc) >> 1), rb + ((ra - rc) >> 1), (ra + rb) >> 1,
        )[predictor - 1]

    diffs = [
        (int(px[y, x]) - pred(y, x) + 32768) % 65536 - 32768
        for y in range(h)
        for x in range(w)
    ]

    def category(v: int) -> int:
        return abs(v).bit_length()

    cats = sorted({category(d) for d in diffs} | {0})
    # Canonical single-length Huffman table over the categories present.
    length = max(2, (len(cats) + 1).bit_length())
    counts = [0] * 16
    counts[length - 1] = len(cats)
    codes = {c: (length, i) for i, c in enumerate(cats)}

    out = bytearray(b"\xff\xd8")

    def segment(marker: int, body: bytes) -> None:
        out.extend(bytes([0xFF, marker]))
        out.extend((len(body) + 2).to_bytes(2, "big"))
        out.extend(body)

    segment(0xC3, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + bytes([1, 1, 0x11, 0]))
    segment(0xC4, bytes([0x00] + counts + cats))
    segment(0xDA, bytes([1, 1, 0x00, predictor, 0, 0]))

    acc = 0
    nbits = 0
    body = bytearray()

    def put(value: int, width: int) -> None:
        nonlocal acc, nbits
        for i in range(width - 1, -1, -1):
            acc = (acc << 1) | ((value >> i) & 1)
            nbits += 1
            if nbits == 8:
                body.append(acc)
                if acc == 0xFF:
                    body.append(0x00)
                acc = 0
                nbits = 0

    for d in diffs:
        s = category(d)
        ln, code = codes[s]
        put(code, ln)
        if s == 16:
            continue  # diff 32768: no extra bits (unreachable for 8-bit)
        if s:
            put(d if d >= 0 else d + (1 << s) - 1, s)
    if nbits:
        put((1 << (8 - nbits)) - 1, 8 - nbits)
    out.extend(body)
    out.extend(b"\xff\xd9")
    return bytes(out)


def _lzw_decode_fast(data: bytes, min_code_size: int, max_pixels: int):
    """Compiled GIF LZW when available (round 10b; byte-identical to
    _lzw_decode — parity-pinned), else the pure-Python loop.  Returns a
    uint8 ndarray (native) or list (pure); callers use only len/slice,
    which both support."""
    lib = _native_lib()
    # mcs <= 8 keeps every root index a uint8 (GIF's legal range); a
    # malformed wider mcs decodes through the pure path unchanged
    if lib is not None and 1 <= min_code_size <= 8:
        import ctypes

        import numpy as np

        out = np.empty(max_pixels + 4097, np.uint8)
        n_out = ctypes.c_long(0)
        rc = lib["gif_lzw"](
            bytes(data), len(data), min_code_size, max_pixels,
            out.ctypes.data, ctypes.addressof(n_out),
        )
        if rc == -1:
            raise ValueError("GIF LZW: first code not in table")
        if rc == -2:
            raise ValueError("GIF LZW: code out of range")
        return out[: n_out.value]
    return _lzw_decode(data, min_code_size, max_pixels)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF LZW decode (LSB-first packed codes, variable width, clear /
    end codes, KwKwK case). Returns the index stream as a list."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    next_code = end + 1
    table = {i: (i,) for i in range(clear)}
    out = []
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                code_size = min_code_size + 1
                next_code = end + 1
                table = {i: (i,) for i in range(clear)}
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise ValueError("GIF LZW: first code not in table")
            elif code in table:
                entry = table[code]
                if next_code < 4096:
                    table[next_code] = prev + (entry[0],)
                    next_code += 1
            elif code == next_code:  # KwKwK
                entry = prev + (prev[0],)
                if next_code < 4096:
                    table[next_code] = entry
                    next_code += 1
            else:
                raise ValueError("GIF LZW: code out of range")
            out.extend(entry)
            if len(out) > max_pixels:
                return out  # tolerate trailing junk past the raster
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            prev = entry
    return out


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF LZW encoder (LSB-first, variable width with the late-change
    convention, stops growing the table at 4096 like the decoder). Used by
    ``encode_gif_gray`` to produce real compressed payloads for the
    pixel-roundtrip data plane; the decoder's independent spec-level tests
    live in tests/test_imagecodec.py with a second encoder."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(value, width):
        nonlocal acc, nbits
        acc |= value << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    w = ()
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the decoder's table lags one entry behind: grow late
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = (k,)
    if w:
        emit(table[w], code_size)
    emit(end, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_gray(px) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a GIF89a with a 256-entry
    identity-gray global palette. Lossless; ``decode_gif`` round-trips it
    exactly (each RGB channel equals the source gray value)."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    out += bytes(v for g in range(256) for v in (g, g, g))
    out += bytes([0x2C, 0, 0, 0, 0])
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0])  # no LCT, not interlaced
    data = _lzw_encode([int(v) for v in px.reshape(-1)], 8)
    out += bytes([8])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes):
    """GIF87a/89a first frame -> (h, w, 3) uint8 RGB composed onto the
    logical-screen canvas (background color outside the frame rect), or
    None if the payload is not a GIF. Raises ValueError on corruption.
    Handles global/local color tables, interlacing, and full LZW."""
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(
            payload, dtype=np.uint8, count=3 * size, offset=pos
        ).reshape(size, 3)
        pos += 3 * size
    if sw == 0 or sh == 0:
        raise ValueError("zero-dimension GIF screen")

    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image data")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left = int.from_bytes(payload[pos : pos + 2], "little")
        top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
        iw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        ih = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        iflags = payload[pos + 8]
        pos += 9
        table = gct
        if iflags & 0x80:
            size = 2 << (iflags & 0x07)
            table = np.frombuffer(
                payload, dtype=np.uint8, count=3 * size, offset=pos
            ).reshape(size, 3)
            pos += 3 * size
        if table is None:
            raise ValueError("GIF image with no color table")
        if iw == 0 or ih == 0 or pos >= len(payload):
            raise ValueError("truncated GIF image descriptor")
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError("bad GIF LZW minimum code size")
        lzw = bytearray()
        while pos < len(payload) and payload[pos]:
            n = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        indices = _lzw_decode_fast(bytes(lzw), min_code_size, iw * ih)
        if len(indices) < iw * ih:
            raise ValueError("GIF pixel data underrun")
        idx = np.array(indices[: iw * ih], dtype=np.int64).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: rows stored in 4 passes
            rows = []
            for start, step in _GIF_INTERLACE_PASSES:
                rows.extend(range(start, ih, step))
            deinterlaced = np.zeros_like(idx)
            deinterlaced[rows] = idx
            idx = deinterlaced
        if int(idx.max()) >= len(table):
            raise ValueError("GIF index exceeds color table")
        frame = table[idx]  # (ih, iw, 3)
        canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
        if gct is not None and bg_index < len(gct):
            canvas[:, :] = gct[bg_index]
        y1, x1 = min(top + ih, sh), min(left + iw, sw)
        canvas[top:y1, left:x1] = frame[: y1 - top, : x1 - left]
        return canvas
    raise ValueError("truncated GIF: no trailer")
