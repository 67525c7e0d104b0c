"""Baseline JPEG (ITU-T T.81 sequential DCT, Huffman, 8-bit) in pure
numpy — the first genuinely COMPRESSED codec the engine decodes to real
pixels, closing most of the remaining S4 gap (the reference decodes its
sample videos via OpenCV ``VideoCapture`` — VideoEventCreator.java:54-96;
this container ships no codec library, but baseline JPEG needs nothing
beyond Huffman tables, dequantization, and an 8x8 IDCT, all expressible
as byte walks + numpy). MJPEG-AVI ('MJPG' biCompression) stores one such
JPEG per movi chunk, so this module makes `sources/avi.py` decode a real
compressed stream end-to-end through the motion pipeline.

Decoder scope (PERMISSIVE where the spec allows):
  - markers: SOI, APPn/COM (skipped), DQT (8/16-bit, multi-table), SOF0,
    DHT (multi-table), DRI, SOS, RSTn, EOI
  - 1-component grayscale and 3-component YCbCr; sampling factors 1-2
    (4:4:4, 4:2:2, 4:2:0) with sample-replication chroma upsample
  - DHT-less streams: SOS references to absent tables 0/1 fall back to
    the T.81 Annex K typical tables — the OpenDML 'AVI1' convention
    hardware MJPEG encoders rely on (they omit DHT entirely and expect
    the decoder to supply the fixed defaults, as libjpeg/ffmpeg do)
  - entropy stream byte-unstuffing (FF 00) and restart-marker DC resets
  - full-range JFIF YCbCr -> BGR (round-half-away, clipped), matching the
    channel order every other video source in this engine emits

Encoder scope (tests/fixtures): baseline 4:4:4 (or grayscale), one
quantization table per luma/chroma, CUSTOM canonical Huffman tables
emitted in DHT (single code length per class — decoders read tables from
the stream, so simplicity beats the Annex K defaults; the all-ones code
stays unused as the spec advises), or the Annex K typical tables with or
without DHT segments (``tables="annexk"`` / ``"annexk-nodht"`` — the
latter reproduces the hardware-encoder layout for testing the decoder's
default-table fallback). Quality 100 uses all-ones quant tables, so
roundtrip error is IDCT float rounding only (±1/level).

Not supported (raises JpegError): progressive (SOF2), arithmetic coding,
12-bit precision, hierarchical — none appear in MJPEG streams.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["JpegError", "decode_jpeg", "encode_jpeg", "is_jpeg"]


class JpegError(ValueError):
    """Malformed or unsupported JPEG input."""


# zigzag: index i of the scan order -> (row, col) in the 8x8 block
# entropy-scan bit accumulator bound: wide enough for a refill to take 8
# marker-free bytes in one int.from_bytes on top of <=24 buffered bits
# (consumers read only the low `nbits` and mask every extract, so the
# accumulator width is invisible to them; the mask just keeps the Python
# int small)
_MASK96 = (1 << 96) - 1

_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8-point DCT-II basis: A[u, x] = 0.5 * c(u) * cos((2x+1) u pi / 16)
_A = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _x, _c


def is_jpeg(data: bytes) -> bool:
    return len(data) >= 3 and data[0:2] == b"\xff\xd8" and data[2] == 0xFF


def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(height, width) from the first SOF header, without decoding; None
    when ``data`` is not a JPEG or no SOF precedes the scan."""
    if not is_jpeg(data):
        return None
    pos = 2
    while pos + 9 <= len(data) and data[pos] == 0xFF:
        marker = data[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return struct.unpack_from(">HH", data, pos + 5)
        if marker == 0xDA:
            return None
        pos += 2 + struct.unpack_from(">H", data, pos + 2)[0]
    return None


def _idct2(block: np.ndarray) -> np.ndarray:
    return _A.T @ block @ _A


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _A @ block @ _A.T


def _build_huff(counts: list[int], symbols: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman per T.81 Annex C: {(length, code) -> symbol}.
    Rejects oversubscribed tables (more codes at a length than the
    canonical code space holds) — without this check a corrupt DHT would
    build codes wider than their declared length and the LUT fill would
    silently mis-shape instead of the frame being refused."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if code >= (1 << length):
                raise JpegError("oversubscribed Huffman table")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _HuffTable:
    """LUT Huffman decoder: one maxlen-bit peek + one list index per
    symbol instead of a per-bit loop (the standard fast decode — a
    length-L code owns the 2^(maxlen-L) LUT entries sharing its prefix).
    Entries no code covers carry length 0 -> invalid-stream JpegError."""

    __slots__ = ("maxlen", "sym", "ln")

    def __init__(self, counts: list[int], symbols: list[int]):
        table = _build_huff(counts, symbols)
        if not table:
            raise JpegError("empty Huffman table")
        self.maxlen = max(length for length, _ in table)
        size = 1 << self.maxlen
        self.sym = [0] * size
        self.ln = [0] * size
        for (length, code), s in table.items():
            span = 1 << (self.maxlen - length)
            lo = code << (self.maxlen - length)
            self.sym[lo : lo + span] = [s] * span
            self.ln[lo : lo + span] = [length] * span


_HUFF_CACHE: dict[tuple[bytes, bytes], _HuffTable] = {}


def _huff_table(counts: list[int], symbols: list[int]) -> _HuffTable:
    """Memoized _HuffTable: every frame of an MJPEG stream carries
    identical DHT bytes (or none at all), and building the 2^maxlen LUT
    is the dominant per-frame header cost for real-world tables (the
    Annex K maxlen-16 tables own 65536 entries each) — cache on the raw
    table bytes so the build happens once per stream, not once per
    frame. Capped so adversarial fuzz input can't grow it without
    bound."""
    key = (bytes(counts), bytes(symbols))
    tbl = _HUFF_CACHE.get(key)
    if tbl is None:
        tbl = _HuffTable(counts, symbols)
        if len(_HUFF_CACHE) >= 64:
            _HUFF_CACHE.clear()
        _HUFF_CACHE[key] = tbl
    return tbl


# ITU-T T.81 Annex K.3.3 "typical" Huffman tables, (counts, symbols) per
# (class, destination): the fixed tables a DHT-less stream implies. Table
# destination 0 is the luminance pair, 1 the chrominance pair, per the
# universal JFIF/MJPEG convention.
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_STD_HUFF = {
    (0, 0): _STD_DC_LUMA,
    (0, 1): _STD_DC_CHROMA,
    (1, 0): _STD_AC_LUMA,
    (1, 1): _STD_AC_CHROMA,
}


def _default_huff(tc: int, th: int) -> _HuffTable:
    """The Annex K table a DHT-less scan's (class, destination) implies;
    destinations >= 2 have no convention and stay an error."""
    spec = _STD_HUFF.get((tc, th))
    if spec is None:
        raise JpegError("missing Huffman table")
    return _huff_table(*spec)


# Frame-size sanity cap: 2^25 px covers 8K video (7680 x 4320 = 33.2M)
# while keeping the per-component coefficient arrays in the hundreds of
# MB. Without it, a few-hundred-byte JPEG declaring 65535 x 65535 demands
# ~34 GB of zeros and a ~67M-iteration MCU loop before any decode error
# can surface — the permissive MJPEG path feeds untrusted chunks here.
_MAX_PIXELS = 1 << 25


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JPEG bytes to (H, W, 3) BGR uint8 (grayscale input
    is replicated across the three channels, matching the wire format the
    engine's frame sources emit). Malformed input of ANY shape raises
    JpegError — the low-level struct/index errors a truncated or mangled
    header produces are converted, so callers need one except clause
    (fuzz-pinned in tests/test_mjpeg.py)."""
    try:
        return _decode_jpeg_checked(data)
    except JpegError:
        raise
    except (struct.error, ValueError, IndexError, MemoryError) as e:
        raise JpegError(f"malformed JPEG: {e}") from e


def _decode_jpeg_checked(data: bytes) -> np.ndarray:
    if not is_jpeg(data):
        raise JpegError("not a JPEG stream (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class, id) -> table
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    scan_comps: list[dict] = []
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"marker expected at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = pos + 4
        end = pos + 2 + seglen
        if marker == 0xDB:  # DQT
            p = body
            while p < end:
                pq, tq = data[p] >> 4, data[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(data, np.uint8, 64, p).astype(np.int32)
                    p += 64
                elif pq == 1:
                    tbl = np.frombuffer(data, ">u2", 64, p).astype(np.int32)
                    p += 128
                else:
                    raise JpegError("bad DQT precision")
                qt[tq] = tbl
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (both baseline-huffman)
            if data[body] != 8:
                raise JpegError("only 8-bit precision supported")
            h, w = struct.unpack_from(">HH", data, body + 1)
            n = data[body + 5]
            comps = []
            for i in range(n):
                cid, hv, tq = data[body + 6 + 3 * i : body + 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker 0xFF{marker:02X} (not baseline)")
        elif marker == 0xC4:  # DHT
            p = body
            while p < end:
                tc, th = data[p] >> 4, data[p] & 0x0F
                counts = list(data[p + 1 : p + 17])
                nsym = sum(counts)
                symbols = list(data[p + 17 : p + 17 + nsym])
                if len(counts) < 16 or len(symbols) < nsym or p + 17 + nsym > end:
                    raise JpegError("truncated DHT segment")
                huff[(tc, th)] = _huff_table(counts, symbols)
                p += 17 + nsym
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", data, body)
        elif marker == 0xDA:  # SOS
            ns = data[body]
            if ns != len(comps):
                # a partial-component scan means non-interleaved multi-scan
                # layout; decoding just the first scan would silently drop
                # the other components — refuse instead
                raise JpegError("non-interleaved multi-scan JPEG unsupported")
            scan_comps = []
            for i in range(ns):
                cid, tables = data[body + 1 + 2 * i], data[body + 2 + 2 * i]
                comp = next((c for c in comps if c["id"] == cid), None)
                if comp is None:
                    raise JpegError("SOS references unknown component")
                scan_comps.append(
                    {**comp, "dc": tables >> 4, "ac": tables & 0x0F}
                )
            scan_start = body + 1 + 2 * ns + 3  # skip Ss/Se/AhAl
            break
        # APPn, COM, everything else: skip
        pos = end
    if scan_start is None or not comps or h == 0 or w == 0:
        raise JpegError("missing SOF/SOS")
    if h * w > _MAX_PIXELS:
        raise JpegError(f"frame {w}x{h} exceeds the decoder pixel cap")

    # EVERY component's factors must be 1 or 2 — checking only the max
    # would let a zero factor through to divide the upsample ratios
    for c in scan_comps:
        if c["h"] not in (1, 2) or c["v"] not in (1, 2):
            raise JpegError("per-component sampling factors must be 1 or 2")
    if len(scan_comps) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — the
        # MCU is one data unit and the declared sampling factors play no
        # role in the block layout (libjpeg/ffmpeg semantics). Without
        # this, a grayscale frame declaring 2x2 factors (legal, emitted
        # by some hardware encoders) would be read as a 4-block
        # interleaved MCU grid and desync from the raster-ordered
        # entropy stream (r14 review; regression-pinned).
        scan_comps[0] = {**scan_comps[0], "h": 1, "v": 1}
    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # Entropy scan fills ONE flat coefficient array per component (block
    # rows in scan order, natural coefficient positions); dequantization,
    # the 8x8 IDCT, block placement and colour conversion then run as
    # whole-image numpy ops instead of per-block calls (the per-block form
    # spent ~1 s per 640x480 frame in numpy call overhead, not math). A
    # quality-75 4:2:0 frame now decodes in ~21 ms at 640x480 and ~4.5 ms
    # at 320x240 (CPU time, 4-vCPU VM); about 2.8 ms of the latter is the
    # entropy scan below.
    comp_meta = []
    coef_arrays = []
    for c in scan_comps:
        q = qt.get(c["tq"])
        if q is None:
            raise JpegError("missing quantization table")
        dct = huff.get((0, c["dc"])) or _default_huff(0, c["dc"])
        act = huff.get((1, c["ac"])) or _default_huff(1, c["ac"])
        qn = np.empty(64, dtype=np.float64)
        qn[_ZZ] = q  # dezigzag the quant table once
        comp_meta.append((c, dct, act, qn))
        coef_arrays.append(
            np.zeros((mcus_y * mcus_x * c["v"] * c["h"], 64), dtype=np.float64)
        )
    nat = _ZZ.tolist()  # zigzag scan position -> natural position

    # Entropy scan with the bit cursor in plain locals (r8 perf): a
    # 640x480 frame decodes ~30k Huffman symbols, and profiling showed
    # roughly half the scan wall-clock was attribute lookups + method
    # calls on a reader object's peek/consume/read — none of which exist
    # on the fast path below. Only the refill (reached about every other
    # symbol, since each top-up buffers >= 25 bits and a symbol+extend
    # consumes <= 27 but usually far less) stays a closure; its
    # unstuff/pad/marker semantics mirror T.81 exactly as before: FF00 is
    # a stuffed data byte, any other FFxx ends the entropy segment, and
    # reads past the end see zero padding.
    pred = [0] * len(scan_comps)
    bi = [0] * len(scan_comps)  # per-component block counter, scan order
    dlen = len(data)
    bits = 0
    nbits = 0
    bpos = scan_start
    bmarker: int | None = None

    def _refill() -> None:
        nonlocal bits, nbits, bpos, bmarker
        # Bulk fast path (r10 perf): profiling showed ~30% of the entropy
        # scan inside this refill at one byte per loop turn. When the next
        # 8 bytes contain no 0xFF (the overwhelmingly common case —
        # checked with a C-speed `in` on the slice), they can't hold a
        # stuffed byte or a marker, so all 8 land in one int.from_bytes.
        # Consumers only ever read the low `nbits`, so accumulator width
        # is invisible to them. Byte-wise path below is unchanged and
        # keeps exact T.81 unstuff/pad/marker semantics at segment edges.
        if bmarker is None and nbits <= 24 and bpos + 8 <= dlen:
            w = data[bpos : bpos + 8]
            if 0xFF not in w:
                bits = ((bits << 64) | int.from_bytes(w, "big")) & _MASK96
                nbits += 64
                bpos += 8
                return
        while nbits <= 24:
            if bmarker is not None or bpos >= dlen:
                # pad with zeros past the end / a marker (spec: padding 1s,
                # but any decode consuming pad bits is already done)
                bits = (bits << 8) & _MASK96
                nbits += 8
                continue
            b = data[bpos]
            if b == 0xFF:
                nxt = data[bpos + 1] if bpos + 1 < dlen else 0xD9
                if nxt == 0x00:  # stuffed data byte
                    bpos += 2
                else:  # a real marker terminates the entropy segment
                    bmarker = nxt
                    continue
            else:
                bpos += 1
            bits = ((bits << 8) | b) & _MASK96
            nbits += 8

    # per-component hot constants: block count + both LUTs' (maxlen,
    # mask, lengths, symbols), so the inner loop touches only locals
    scan_meta = [
        (
            c["v"] * c["h"],
            dct.maxlen,
            (1 << dct.maxlen) - 1,
            dct.ln,
            dct.sym,
            act.maxlen,
            (1 << act.maxlen) - 1,
            act.ln,
            act.sym,
        )
        for c, dct, act, _qn in comp_meta
    ]
    mcu_index = 0
    for _my in range(mcus_y):
        for _mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                # byte-align, sync to and consume the expected RSTn
                bits = 0
                nbits = 0
                if bmarker is None:
                    while bpos < dlen:
                        if (
                            data[bpos] == 0xFF
                            and bpos + 1 < dlen
                            and data[bpos + 1] != 0x00
                        ):
                            bmarker = data[bpos + 1]
                            break
                        bpos += 1
                m = bmarker
                if m is not None:
                    bpos += 2
                    bmarker = None
                if m is None or not (0xD0 <= m <= 0xD7):
                    raise JpegError("expected restart marker")
                pred = [0] * len(scan_comps)
            for ci, (
                nblocks,
                dml,
                dmask,
                dln,
                dsym,
                aml,
                amask,
                aln,
                asym,
            ) in enumerate(scan_meta):
                arr = coef_arrays[ci]
                for _blk in range(nblocks):
                    row = arr[bi[ci]]
                    bi[ci] += 1
                    if nbits < dml:
                        _refill()
                    idx = (bits >> (nbits - dml)) & dmask
                    length = dln[idx]
                    if length == 0:
                        raise JpegError("invalid Huffman code in entropy stream")
                    nbits -= length
                    size = dsym[idx]
                    if size > 11:  # corrupt DHT symbol: DC size <= 11
                        raise JpegError("DC size out of range")
                    if size:
                        if nbits < size:
                            _refill()
                        nbits -= size
                        v = (bits >> nbits) & ((1 << size) - 1)
                        pred[ci] += (
                            v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        )
                    row[0] = pred[ci]
                    k = 1
                    while k < 64:
                        if nbits < aml:
                            _refill()
                        idx = (bits >> (nbits - aml)) & amask
                        length = aln[idx]
                        if length == 0:
                            raise JpegError(
                                "invalid Huffman code in entropy stream"
                            )
                        nbits -= length
                        rs = asym[idx]
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JpegError("AC run past block end")
                        if nbits < s:
                            _refill()
                        nbits -= s
                        v = (bits >> nbits) & ((1 << s) - 1)
                        row[nat[k]] = (
                            v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        )
                        k += 1
            mcu_index += 1

    if len(scan_comps) not in (1, 3):
        raise JpegError(f"unsupported component count {len(scan_comps)}")

    # Pixel back-end. Every float op below is the one the straightforward
    # form (upsample each plane, then convert and round at full size)
    # performs on each sample, in the same order, so the output bytes are
    # the same (digest-pinned in tests/test_mjpeg.py); only the number of
    # full-resolution passes is cut:
    #   - dequantize in place; the IDCT's second product is written
    #     straight into the raster plane (same association), then the
    #     +128 level shift runs in place;
    #   - chroma is level-shifted and scaled at chroma resolution, and a
    #     plane upsampled by (ry, rx) is applied to the output samples
    #     [i::ry, j::rx] once per phase (i, j): replication commutes with
    #     per-sample arithmetic, so no upsampled plane is built;
    #   - one accumulator serves all three channels;
    #   - round half up as +0.5, clip in place, then a truncating store
    #     into the uint8 output: trunc(clip(x, 0, 255)) equals
    #     clip(floor(x), 0, 255) for every finite x.
    # Planes are worked at the MCU-aligned size (ph, pw), a multiple of
    # every upsample ratio, and cropped to (h, w) at the store.
    ph, pw = mcus_y * vmax * 8, mcus_x * hmax * 8
    planes = []
    for (c, _dct, _act, qn), arr in zip(comp_meta, coef_arrays):
        cv, ch = c["v"], c["h"]
        arr *= qn
        plane = np.empty((mcus_y * cv * 8, mcus_x * ch * 8))
        np.matmul(
            _A.T @ arr.reshape(mcus_y, mcus_x, cv, ch, 8, 8),
            _A,
            out=plane.reshape(mcus_y, cv, 8, mcus_x, ch, 8).transpose(0, 3, 1, 4, 2, 5),
        )
        plane += 128.0
        planes.append((plane, vmax // cv, hmax // ch))

    out = np.empty((h, w, 3), dtype=np.uint8)

    def _phases(ry: int, rx: int) -> list[tuple[slice, slice]]:
        return [
            (slice(i, None, ry), slice(j, None, rx))
            for i in range(ry)
            for j in range(rx)
        ]

    def _store(a: np.ndarray, channel: int) -> None:
        a += 0.5
        np.maximum(a, 0.0, out=a)  # clip as two in-place passes: about
        np.minimum(a, 255.0, out=a)  # half the time of np.clip here
        out[:, :, channel] = a[:h, :w]

    y, ry, rx = planes[0]
    if len(planes) == 1:  # single-component scans are always 1x1
        _store(y, 0)
        out[:, :, 1:] = out[:, :, :1]
        return out
    if ry > 1 or rx > 1:  # luma below the maximum sampling
        full_y = np.empty((ph, pw))
        for at in _phases(ry, rx):
            full_y[at] = y
        y = full_y
    for p, _ry, _rx in planes[1:]:
        p -= 128.0
    cb, cr = planes[1:]
    acc = np.empty((ph, pw))

    def _term(op, src: np.ndarray, k: float, chroma: tuple) -> None:
        """acc = src op k * chroma, the chroma plane spread over the
        output samples it covers."""
        p, ry, rx = chroma
        t = k * p
        for at in _phases(ry, rx):
            op(src[at], t, out=acc[at])

    _term(np.add, y, 1.402, cr)
    _store(acc, 2)
    _term(np.subtract, y, 0.344136, cb)
    _term(np.subtract, acc, 0.714136, cr)
    _store(acc, 1)
    _term(np.add, y, 1.772, cb)
    _store(acc, 0)
    return out


# ---------------------------------------------------------------- encoder

# Annex K.1 luminance / K.2 chrominance quantization tables (zigzag order
# applied at use time; stored here in natural row-major order).
_QL = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
_QC = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scaling convention; quality 100 gives an
    all-ones table (IDCT rounding is then the only loss)."""
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# Custom canonical Huffman tables: every symbol at one code length, with
# the all-ones code left unused (len 5 for the 12 DC sizes, len 9 for the
# 162 AC run/size symbols). Valid per Annex C, simple to emit and decode.
_DC_SYMBOLS = list(range(12))
_DC_COUNTS = [0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0]


def _encode_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """{symbol -> (length, code)} for the canonical table."""
    return {s: lc for lc, s in _build_huff(counts, symbols).items()}


_DC_ENC = _encode_codes(_DC_COUNTS, _DC_SYMBOLS)
_AC_ENC = _encode_codes(_AC_COUNTS, _AC_SYMBOLS)

# Encode maps for the Annex K typical tables (luma pair, chroma pair) —
# used by tables="annexk"/"annexk-nodht" to produce the hardware-encoder
# stream layout the decoder's DHT-less fallback exists for.
_STD_DC_ENC = (_encode_codes(*_STD_DC_LUMA), _encode_codes(*_STD_DC_CHROMA))
_STD_AC_ENC = (_encode_codes(*_STD_AC_LUMA), _encode_codes(*_STD_AC_CHROMA))


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # drop drained bits: without this, acc grows into a bignum and
        # every subsequent shift costs O(total bits written) — quadratic
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)

    def restart(self, idx: int) -> None:
        """Byte-align (1-padded) and emit RSTn — markers go in raw,
        never byte-stuffed."""
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (idx & 7)])


def _mag(v: int) -> tuple[int, int]:
    """(size, code) for a DC-diff / AC coefficient value."""
    size = int(abs(v)).bit_length()
    code = v if v >= 0 else v + (1 << size) - 1
    return size, code


def _encode_block(
    bw: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_enc: dict[int, tuple[int, int]],
    ac_enc: dict[int, tuple[int, int]],
) -> int:
    dc = int(zz[0])
    size, code = _mag(dc - pred)
    ln, cd = dc_enc[size]
    bw.write(cd, ln)
    if size:
        bw.write(code, size)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0].max() + 1) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, cd = ac_enc[0xF0]
            bw.write(cd, ln)
            run -= 16
        size, code = _mag(v)
        ln, cd = ac_enc[(run << 4) | size]
        bw.write(cd, ln)
        bw.write(code, size)
        run = 0
    if last_nz < 63:
        ln, cd = ac_enc[0x00]
        bw.write(cd, ln)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _pad_plane(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate a component plane to the MCU-aligned (ph, pw)."""
    h, w = p.shape
    pp = np.empty((ph, pw))
    pp[:h, :w] = p
    pp[h:, :w] = p[h - 1 : h, :]
    pp[:, w:] = pp[:, w - 1 : w]
    return pp


def encode_jpeg(
    bgr: np.ndarray,
    quality: int = 95,
    subsampling: str = "444",
    restart_interval: int = 0,
    tables: str = "custom",
) -> bytes:
    """Encode (H, W, 3) BGR (or (H, W) grayscale) uint8 to baseline JPEG.
    ``subsampling``: "444" (no chroma subsample), "422" (2x1 luma
    sampling, horizontally-halved chroma) or "420" (2x2 luma sampling,
    box-averaged half-resolution chroma — the MJPEG-typical layout).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (the error-resilience layout MJPEG hardware encoders produce —
    and the decoder path that resets DC predictors). ``tables``:
    "custom" (the simple single-length canonical Huffman tables, emitted
    in DHT), "annexk" (the T.81 Annex K typical tables — luma pair on
    destination 0, chroma pair on 1 — emitted in DHT), or
    "annexk-nodht" (Annex K tables with NO DHT segments at all: the
    OpenDML 'AVI1' hardware-encoder layout, decodable only through the
    decoder's default-table fallback). Annex K quant tables scaled by
    ``quality`` (100 = all-ones, near-lossless)."""
    a = np.asarray(bgr, dtype=np.float64)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise JpegError("expected (H, W, 3) BGR or (H, W) grayscale")
    if subsampling not in ("444", "422", "420"):
        raise JpegError(f"unsupported subsampling {subsampling!r}")
    if tables not in ("custom", "annexk", "annexk-nodht"):
        raise JpegError(f"unsupported tables {tables!r}")
    h, w = a.shape[0], a.shape[1]
    if gray:
        planes = [a]
        qts = [_quality_scale(_QL, quality)]
        comp_q = [0]
        samp = [(1, 1)]
    else:
        b, g, r = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        qts = [_quality_scale(_QL, quality), _quality_scale(_QC, quality)]
        comp_q = [0, 1, 1]
        samp = [(1, 1), (1, 1), (1, 1)]
        if subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
            # box-average chroma to half resolution (pad odd dims first)
            for i in (1, 2):
                p = _pad_plane(planes[i], -(-h // 2) * 2, -(-w // 2) * 2)
                planes[i] = 0.25 * (
                    p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]
                )
        elif subsampling == "422":
            samp = [(2, 1), (1, 1), (1, 1)]
            for i in (1, 2):
                p = _pad_plane(planes[i], h, -(-w // 2) * 2)
                planes[i] = 0.5 * (p[:, 0::2] + p[:, 1::2])

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    out = bytearray(b"\xff\xd8")
    for ti, q in enumerate(qts):
        out += _seg(0xDB, bytes([ti]) + bytes(q[_ZZ].astype(np.uint8).tolist()))
    ncomp = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i in range(ncomp):
        sof += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], comp_q[i]])
    out += _seg(0xC0, sof)
    if tables == "custom":
        comp_t = [0] * ncomp
        dht_specs = [
            (0, 0, _DC_COUNTS, _DC_SYMBOLS),
            (1, 0, _AC_COUNTS, _AC_SYMBOLS),
        ]
        dc_encs, ac_encs = {0: _DC_ENC}, {0: _AC_ENC}
    else:
        comp_t = [0] + [1] * (ncomp - 1)  # luma tables 0, chroma tables 1
        dht_specs = [
            (0, 0, *_STD_DC_LUMA),
            (1, 0, *_STD_AC_LUMA),
        ]
        if ncomp > 1:
            dht_specs += [(0, 1, *_STD_DC_CHROMA), (1, 1, *_STD_AC_CHROMA)]
        dc_encs = {0: _STD_DC_ENC[0], 1: _STD_DC_ENC[1]}
        ac_encs = {0: _STD_AC_ENC[0], 1: _STD_AC_ENC[1]}
    if tables != "annexk-nodht":
        for tc, th, counts, symbols in dht_specs:
            out += _seg(
                0xC4, bytes([(tc << 4) | th]) + bytes(counts) + bytes(symbols)
            )
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, (comp_t[i] << 4) | comp_t[i]])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    bw = _BitWriter()
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    pred = [0] * ncomp
    padded = [
        _pad_plane(p, mcus_y * 8 * samp[i][1], mcus_x * 8 * samp[i][0])
        for i, p in enumerate(planes)
    ]
    mcu_index = 0
    rst_idx = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                bw.restart(rst_idx)
                rst_idx += 1
                pred = [0] * ncomp
            mcu_index += 1
            for ci in range(ncomp):
                ch, cv = samp[ci]
                q = qts[comp_q[ci]].reshape(8, 8).astype(np.float64)
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        blk = padded[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        quant = (
                            np.floor(_fdct2(blk) / q + 0.5).astype(np.int64).reshape(64)
                        )
                        # AC magnitudes are capped at the baseline 10-bit
                        # range (only reachable on pathological
                        # max-contrast blocks at quality 100); DC diffs
                        # fit size 11 without clamping
                        quant[1:] = np.clip(quant[1:], -1023, 1023)
                        pred[ci] = _encode_block(
                            bw,
                            quant[_ZZ],
                            pred[ci],
                            dc_encs[comp_t[ci]],
                            ac_encs[comp_t[ci]],
                        )
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)
