"""Codec-free video pixel decode: animated GIF reader, pure stdlib+numpy.

The reference decodes any OpenCV-supported container with ``VideoCapture``
(VideoEventCreator.java:54-96), which through ffmpeg includes animated GIF.
This container ships no codec library, but GIF needs none: the format is
fully public (CompuServe GIF89a specification, 1990-07-31, reproduced by
W3C) and its only compression is LZW over palette indices — decodable with
stdlib integers. That makes GIF the engine's first REAL **inter-frame**
format: frames after the first may be partial-canvas rectangles composited
over prior output (disposal methods, transparency), so decoding frame N
genuinely requires decoder state from frames < N — the property H.264 has
that keeps it env-blocked, here in a form pure Python can honestly decode.

Wire layout (GIF89a spec sections 17-26):
  ``GIF87a|GIF89a`` + Logical Screen Descriptor (w, h u16le, packed flags,
  background color index, aspect) + optional Global Color Table; then a
  block stream: ``0x21`` extensions (Graphic Control 0xF9 carries disposal
  method / transparency index / delay per following image; others are
  skipped by sub-block walking), ``0x2C`` image descriptors (left, top, w,
  h, packed flags, optional Local Color Table, LZW minimum code size, data
  sub-blocks), ``0x3B`` trailer.

LZW (spec appendix): variable-width codes LSB-first across sub-block
boundaries, initial width = min_code_size+1, CLEAR = 1<<min, EOI = CLEAR+1,
dictionary grows to 4096 entries, width bumps when the next code to define
reaches 1<<width (cap 12), CLEAR resets. The encoder below mirrors the
decoder's width schedule exactly (the check runs after each emitted code,
before the insert that code's miss triggers — the one ordering where both
sides agree on every boundary, pinned by the hand-computed byte fixture and
the roundtrip fuzz in tests/test_gif.py).

Compositing (spec section 23): disposal 0/1 leave the canvas, 2 restores
the frame's rectangle to the background color (spec-literal: the Logical
Screen Descriptor's background index resolved through the GCT; black when
no GCT), 3 restores the canvas to its pre-frame state. Pixels matching the
Graphic Control transparency index leave the underlying canvas untouched.
Every yielded frame is the FULL composited canvas as BGR uint8 — the same
shape contract as decode_y4m/decode_avi, so the motion pipeline consumes
GIF bytes unchanged.

Ingest: ``decode_gif``/``probe_gif`` are this format's row in the
container table (sources/video_files.py::CONTAINERS); the table's
``permissive`` wrapper turns a header error into zero frames and a
corrupt tail into the end of the stream, for ``read_video_files``,
``read_video_chunks`` and ``format("gif")`` alike.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")

# untrusted-input guard, same posture as jpeg.py's declared-dims cap: a
# hostile header must not make one task allocate an absurd canvas
_MAX_PIXELS = 64 * 1024 * 1024


class GifError(ValueError):
    """Malformed GIF input (callers treat like any corrupt-file case)."""


@dataclass(frozen=True)
class GifHeader:
    width: int
    height: int
    gct: np.ndarray | None  # (n, 3) uint8 RGB or None
    bg_index: int
    blocks_start: int  # offset of the first block after LSD (+GCT)


def is_gif(data: bytes) -> bool:
    return data[:6] in GIF_MAGICS


def _color_table(data: bytes, pos: int, n: int) -> tuple[np.ndarray, int]:
    end = pos + 3 * n
    if end > len(data):
        raise GifError("truncated color table")
    return (
        np.frombuffer(data[pos:end], dtype=np.uint8).reshape(n, 3).copy(),
        end,
    )


def parse_gif_header(data: bytes) -> GifHeader:
    if not is_gif(data):
        raise GifError("not a GIF stream")
    if len(data) < 13:
        raise GifError("truncated logical screen descriptor")
    width = int.from_bytes(data[6:8], "little")
    height = int.from_bytes(data[8:10], "little")
    if width <= 0 or height <= 0 or width * height > _MAX_PIXELS:
        raise GifError(f"implausible canvas {width}x{height}")
    packed = data[10]
    bg_index = data[11]
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(data, pos, 2 << (packed & 0x07))
    return GifHeader(width, height, gct, bg_index, pos)


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a sub-block chain; returns (payload, offset past the
    0x00 terminator)."""
    parts = []
    while True:
        if pos >= len(data):
            raise GifError("unterminated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        if pos + n > len(data):
            raise GifError("truncated sub-block")
        parts.append(data[pos : pos + n])
        pos += n


_LZW_MAX = 4096  # dictionary ceiling (12-bit codes)


def lzw_decode(min_code_size: int, data: bytes, npix: int) -> bytes:
    """GIF-flavor LZW: LSB-first variable-width codes -> palette indices.
    Stops after ``npix`` indices (trailing codes are legal padding);
    raises GifError on truncation or an out-of-range code. The code-size
    bound is 2..8 — GIF literals are palette indices, so a larger root
    size is meaningless AND would make the base-table build raise a bare
    ValueError (bytes > 255) that escapes every ``except GifError``
    permissive guard (review finding: a single bit flip turns size 2
    into 10)."""
    if not 2 <= min_code_size <= 8:
        raise GifError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    seqs = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nacc = 0
    pos = 0
    dlen = len(data)
    while len(out) < npix:
        while nacc < width:
            if pos >= dlen:
                raise GifError("LZW stream truncated before pixel count")
            acc |= data[pos] << nacc
            nacc += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            seqs = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            raise GifError("LZW EOI before pixel count")
        n = len(seqs)
        if code < n:
            entry = seqs[code]
            if not entry:
                raise GifError("LZW code references an undefined entry")
        elif code == n and prev is not None:
            entry = prev + prev[:1]
        else:
            raise GifError("LZW code out of range")
        if prev is not None and n < _LZW_MAX:
            seqs.append(prev + entry[:1])
            if len(seqs) >= (1 << width) and width < 12:
                width += 1
        out += entry
        prev = entry
    return bytes(out[:npix])


def lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """GIF-flavor LZW encoder (fixtures/tests): emits CLEAR, the code
    stream, and EOI, with the decoder's exact width schedule (module
    docstring). Resets with CLEAR when the dictionary fills. Same 2..8
    code-size bound as the decoder."""
    if not 2 <= min_code_size <= 8:
        raise GifError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nacc = 0
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1

    def emit(code: int) -> None:
        nonlocal acc, nacc, width
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
        # width bump AFTER the write, keyed on the next code to define —
        # the decoder widens after defining entry (next_code - 1), i.e.
        # before reading the code that follows this one
        if next_code >= (1 << width) and width < 12:
            width += 1

    emit(clear)
    w = b""
    for b in indices:
        if b >= clear:
            raise GifError("palette index out of range for code size")
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code >= _LZW_MAX - 1:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        else:
            table[wc] = next_code
            next_code += 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(eoi)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


# interlace passes: (first row, stride) per GIF89a spec section 20
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Row permutation: output row i of the stream belongs at
    ``order[i]`` in the image."""
    return np.concatenate(
        [np.arange(first, h, step) for first, step in _INTERLACE_PASSES]
    ).astype(np.int64)


def decode_gif(data: bytes, max_frames: int = 1 << 30) -> Iterator[np.ndarray]:
    """Yield full-canvas composited BGR uint8 frames (eager header parse,
    like decode_y4m/decode_avi: header errors raise before the first
    yield; a malformed BLOCK mid-stream raises GifError from the
    iterator). Strict on purpose: the container table in
    sources/video_files.py applies the one bad-file policy
    (``permissive``) to every ingest path."""
    hdr = parse_gif_header(data)

    def frames() -> Iterator[np.ndarray]:
        bg_rgb = (
            hdr.gct[hdr.bg_index]
            if hdr.gct is not None and hdr.bg_index < len(hdr.gct)
            else np.zeros(3, dtype=np.uint8)
        )
        canvas = np.broadcast_to(bg_rgb, (hdr.height, hdr.width, 3)).copy()
        pos = hdr.blocks_start
        disposal = 0
        transparent: int | None = None
        n = 0
        while n < max_frames:
            if pos >= len(data):
                raise GifError("missing trailer")
            block = data[pos]
            pos += 1
            if block == 0x3B:  # trailer
                return
            if block == 0x21:  # extension
                if pos >= len(data):
                    raise GifError("truncated extension")
                label = data[pos]
                pos += 1
                payload, pos = _subblocks(data, pos)
                if label == 0xF9 and len(payload) >= 4:
                    disposal = (payload[0] >> 2) & 0x07
                    transparent = payload[3] if payload[0] & 0x01 else None
                continue
            if block != 0x2C:
                raise GifError(f"unknown block 0x{block:02x}")
            if pos + 9 > len(data):
                raise GifError("truncated image descriptor")
            left = int.from_bytes(data[pos : pos + 2], "little")
            top = int.from_bytes(data[pos + 2 : pos + 4], "little")
            iw = int.from_bytes(data[pos + 4 : pos + 6], "little")
            ih = int.from_bytes(data[pos + 6 : pos + 8], "little")
            packed = data[pos + 8]
            pos += 9
            if iw <= 0 or ih <= 0 or left + iw > hdr.width or top + ih > hdr.height:
                raise GifError("image rectangle outside the canvas")
            palette = hdr.gct
            if packed & 0x80:
                palette, pos = _color_table(data, pos, 2 << (packed & 0x07))
            if palette is None:
                raise GifError("image with no color table")
            if pos >= len(data):
                raise GifError("missing LZW code size")
            min_code = data[pos]
            pos += 1
            payload, pos = _subblocks(data, pos)
            idx = np.frombuffer(
                lzw_decode(min_code, payload, iw * ih), dtype=np.uint8
            ).reshape(ih, iw)
            if packed & 0x40:  # interlaced
                rows = np.empty_like(idx)
                rows[_interlace_order(ih)] = idx
                idx = rows
            saved = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + ih, left : left + iw]
            if transparent is not None:
                # bounds-check only DRAWN pixels: transparent ones are
                # never looked up in the table, and real encoders emit
                # transparent indices >= table size (review finding —
                # rejecting them dropped valid frames)
                mask = idx != transparent
                drawn = idx[mask]
                if drawn.max(initial=0) >= len(palette):
                    raise GifError("pixel index outside the color table")
                region[mask] = palette[drawn]
            else:
                if idx.max(initial=0) >= len(palette):
                    raise GifError("pixel index outside the color table")
                region[:] = palette[idx]
            yield canvas[:, :, ::-1].copy()  # palette is RGB; wire is BGR
            n += 1
            if disposal == 2:
                region[:] = bg_rgb
            elif disposal == 3 and saved is not None:
                canvas = saved
            disposal = 0
            transparent = None

    return frames()


def probe_gif(data: bytes) -> dict:
    """Container-metadata probe (the GIF twin of probe_y4m/probe_avi):
    header fields + frame count + delay-summed duration by block walking
    — the LZW payloads are skipped sub-block-wise, no pixel work."""
    hdr = parse_gif_header(data)
    pos = hdr.blocks_start
    n = 0
    delay_cs = 0
    pending_delay = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            if pos >= len(data):
                raise GifError("truncated extension")
            label = data[pos]
            pos += 1
            payload, pos = _subblocks(data, pos)
            if label == 0xF9 and len(payload) >= 4:
                pending_delay = int.from_bytes(payload[1:3], "little")
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02x}")
        if pos + 9 > len(data):
            raise GifError("truncated image descriptor")
        packed = data[pos + 8]
        pos += 9
        if packed & 0x80:
            pos += 3 * (2 << (packed & 0x07))
        pos += 1  # LZW minimum code size
        _, pos = _subblocks(data, pos)
        n += 1
        delay_cs += pending_delay
        pending_delay = 0
    fps = (100.0 * n / delay_cs) if delay_cs else None
    return {
        "duration_s": (delay_cs / 100.0) if delay_cs else None,
        "width": float(hdr.width),
        "height": float(hdr.height),
        "n_frames": n,
        "codec": "gif",
        "fps": fps,
    }


def _wrap_subblocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        part = payload[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


def encode_gif(
    frames_bgr: list[np.ndarray],
    delay_cs: int = 4,
    disposal: int = 1,
    delta: bool = False,
    use_transparency: bool = False,
    interlace: bool = False,
    loop: bool = False,
) -> bytes:
    """Minimal GIF89a writer (tests and fixtures). Builds one exact global
    palette from the frames' distinct colors (> 255 distinct colors is a
    GifError — fixtures quantize themselves), so decode(encode(x)) is
    BIT-IDENTICAL to x and golden motion parity against the Y4M/AVI twins
    is meaningful. ``delta=True`` encodes frames after the first as the
    bounding rectangle of changed pixels (the inter-frame path);
    ``use_transparency`` additionally marks unchanged pixels inside that
    rectangle with a reserved transparent index. ``loop`` emits the
    NETSCAPE2.0 application extension (exercises probe/decoder extension
    skipping)."""
    if not frames_bgr:
        raise GifError("need at least one frame")
    if disposal not in (0, 1, 2, 3):
        raise GifError(f"bad disposal {disposal}")
    if delta and disposal not in (0, 1):
        # delta rectangles are computed against the decoder's persisted
        # canvas; disposal 2/3 erase it, so delta-encoding against it
        # would not reproduce the input (hand-build such fixtures)
        raise GifError("delta encoding requires disposal 0 or 1")
    h, w, _ = frames_bgr[0].shape
    frames_rgb = []
    for f in frames_bgr:
        f = np.asarray(f, dtype=np.uint8)
        if f.shape != (h, w, 3):
            raise GifError("all frames must share the first frame's shape")
        frames_rgb.append(f[:, :, ::-1])
    colors = np.unique(np.concatenate([f.reshape(-1, 3) for f in frames_rgb]), axis=0)
    reserve = 1 if use_transparency else 0
    if len(colors) + reserve > 256:
        raise GifError(f"{len(colors)} distinct colors exceed one palette")
    lut = {tuple(c): i for i, c in enumerate(colors)}
    transparent_idx = len(colors) if use_transparency else None
    size_pow = max(1, (len(colors) + reserve - 1).bit_length())  # table = 2^size_pow
    table = np.zeros((1 << size_pow, 3), dtype=np.uint8)
    table[: len(colors)] = colors
    min_code = max(2, size_pow)

    def _enc24(a: np.ndarray) -> np.ndarray:
        # one 24-bit int per RGB row; lexicographic row order == numeric
        return (
            (a[:, 0].astype(np.int64) << 16)
            | (a[:, 1].astype(np.int64) << 8)
            | a[:, 2].astype(np.int64)
        )

    pal24 = _enc24(colors)  # np.unique rows are sorted, so pal24 is too

    def _indices(f: np.ndarray) -> np.ndarray:
        # vectorized exact palette lookup via searchsorted on 24-bit keys
        out = np.searchsorted(pal24, _enc24(f.reshape(-1, 3))).astype(np.uint8)
        return out.reshape(f.shape[:2])

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | (size_pow - 1))  # GCT present, size 2^size_pow
    out.append(0)  # background color index
    out.append(0)  # aspect
    out += table.tobytes()
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0" + _wrap_subblocks(b"\x01\x00\x00")
    prev_canvas: np.ndarray | None = None
    for t, f in enumerate(frames_rgb):
        left = top = 0
        rect = f
        trans_mask = None
        if delta and prev_canvas is not None:
            diff = np.any(f != prev_canvas, axis=2)
            ys, xs = np.nonzero(diff)
            if len(ys) == 0:
                top, left = 0, 0
                rect = f[:1, :1]
            else:
                top, bot = int(ys.min()), int(ys.max()) + 1
                left, right = int(xs.min()), int(xs.max()) + 1
                rect = f[top:bot, left:right]
                if use_transparency:
                    trans_mask = ~diff[top:bot, left:right]
        idx = _indices(rect)
        if trans_mask is not None:
            idx = idx.copy()
            idx[trans_mask] = transparent_idx
        # Graphic Control Extension
        flags = (disposal << 2) | (1 if trans_mask is not None else 0)
        gce = bytes([flags]) + int(delay_cs).to_bytes(2, "little") + bytes(
            [transparent_idx or 0]
        )
        out += b"\x21\xf9" + _wrap_subblocks(gce)
        ih, iw = idx.shape
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
        out.append(0x40 if interlace else 0x00)
        if interlace:
            idx = idx[_interlace_order(ih)]
        out.append(min_code)
        out += _wrap_subblocks(lzw_encode(min_code, idx.tobytes()))
        prev_canvas = f  # delta implies disposal 0/1: canvas persists as f
    out.append(0x3B)
    return bytes(out)
