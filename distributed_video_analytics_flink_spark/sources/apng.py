"""Codec-free video pixel decode: animated PNG (APNG), pure stdlib+numpy.

The second REAL inter-frame format after GIF (sources/gif.py): frames
after the first may be partial-canvas rectangles composited over prior
output with per-frame dispose and blend operations, so decoding frame N
requires decoder state from frames < N. Everything rides the engine's
existing PNG machinery — fdAT payloads are zlib+scanline-filtered exactly
like IDAT, so the one unfilter implementation
(functions/png.py::unfilter_scanlines) serves both stills and animation.

Wire layout (public spec: the APNG extension to PNG, now part of the W3C
PNG third-edition draft; originally Mozilla wiki):
  PNG signature + IHDR, then ``acTL`` (num_frames, num_plays) BEFORE the
  first IDAT marks the file animated; each animated frame is preceded by
  ``fcTL`` (sequence, width, height, x_offset, y_offset, delay_num,
  delay_den, dispose_op, blend_op); the first frame's pixels live in the
  ordinary IDAT chain (only if an fcTL precedes IDAT — otherwise IDAT is
  a hidden still not part of the animation) and every later frame's in
  ``fdAT`` chunks (4-byte sequence number + IDAT-format data). Sequence
  numbers across fcTL+fdAT must be consecutive from 0.

Compositing (spec): the output buffer starts fully transparent;
``blend_op`` 0 (SOURCE) replaces the region including alpha, 1 (OVER)
alpha-composites straight-alpha source over destination; after a frame
is emitted, ``dispose_op`` 0 (NONE) keeps the buffer, 1 (BACKGROUND)
clears the frame's region to fully-transparent black, 2 (PREVIOUS)
reverts the buffer to its pre-frame state. OVER uses exact integer
arithmetic with round-half-up so the output is deterministic across
platforms. Emitted frames are the full canvas flattened over opaque
black to the engine's (H, W, 3) BGR contract — the same stance as the
GIF decoder's background flatten.

Ingest: ``decode_apng``/``probe_apng`` are this format's row in the
container table (sources/video_files.py::CONTAINERS), sniffed by
:func:`is_apng` BEFORE the still-PNG row; the table's ``permissive``
wrapper turns a header error into zero frames and a corrupt tail into
the end of the stream, for ``read_video_files``, ``read_video_chunks``
and ``format("apng")`` alike.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np

from distributed_video_analytics_flink_spark.functions.png import (
    _PNG_SIG,
    _chunk,
    unfilter_scanlines,
)

# untrusted-input guard, same posture as gif.py/jpeg.py
_MAX_PIXELS = 64 * 1024 * 1024


class ApngError(ValueError):
    """Malformed APNG input (callers treat like any corrupt-file case)."""


def _chunks(data: bytes) -> Iterator[tuple[bytes, bytes]]:
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(data):
            raise ApngError(f"truncated {tag!r} chunk")
        yield tag, data[pos + 8 : end]
        if tag == b"IEND":
            return
        pos = end + 4  # skip CRC (not verified: PERMISSIVE ingest)


def is_apng(data: bytes) -> bool:
    """PNG signature + an acTL chunk before the first IDAT (the spec's
    animated marker; a plain PNG never carries acTL)."""
    if data[:8] != _PNG_SIG:
        return False
    try:
        for tag, _ in _chunks(data):
            if tag == b"acTL":
                return True
            if tag == b"IDAT":
                return False
    except ApngError:
        return False
    return False


def _over(dst: np.ndarray, src: np.ndarray) -> np.ndarray:
    """Straight-alpha OVER in exact integer arithmetic (round half up):
    a_out*255 = a_s*255 + a_d*(255-a_s); c_out premultiplies and divides
    back out, matching the spec's real-valued formula deterministically."""
    a_s = src[..., 3:4].astype(np.int64)
    a_d = dst[..., 3:4].astype(np.int64)
    c_s = src[..., :3].astype(np.int64)
    c_d = dst[..., :3].astype(np.int64)
    a_out255 = a_s * 255 + a_d * (255 - a_s)  # = a_out * 255 * 255 / 255
    num = c_s * a_s * 255 + c_d * a_d * (255 - a_s)
    c_out = np.where(a_out255 > 0, (2 * num + a_out255) // (2 * np.maximum(a_out255, 1)), 0)
    a_out = (2 * a_out255 + 255) // (2 * 255)
    out = np.concatenate([c_out, a_out], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def decode_apng(data: bytes, max_frames: int = 1 << 30) -> Iterator[np.ndarray]:
    """Yield full-canvas composited BGR uint8 frames (eager header/acTL
    parse: a non-APNG or implausible header raises before the first
    yield; malformed frame data raises ApngError from the iterator).
    Strict on purpose: the container table in sources/video_files.py
    applies the one bad-file policy (``permissive``) to every ingest
    path."""
    if data[:8] != _PNG_SIG:
        raise ApngError("not a PNG stream")
    w = h = None
    color_type = None
    animated = False
    for tag, payload in _chunks(data):
        if tag == b"IHDR":
            if len(payload) < 13:
                raise ApngError("short IHDR")
            w, h, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if bit_depth != 8:
                raise ApngError(f"unsupported bit depth {bit_depth}")
            if color_type not in (0, 2, 6):
                raise ApngError(f"unsupported color type {color_type}")
            if interlace != 0:
                raise ApngError("interlaced APNG unsupported")
            if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
                raise ApngError(f"implausible canvas {w}x{h}")
        elif tag == b"acTL":
            animated = True
            break
        elif tag == b"IDAT":
            break
    if w is None:
        raise ApngError("missing IHDR")
    if not animated:
        raise ApngError("no acTL: a plain PNG, not an animation")
    ch = {0: 1, 2: 3, 6: 4}[color_type]

    def frames() -> Iterator[np.ndarray]:
        canvas = np.zeros((h, w, 4), dtype=np.uint8)  # fully transparent
        fctl: dict | None = None
        fdata: list[bytes] = []
        seq_expect = 0
        n = 0
        first_fctl_seen_before_idat = False
        saw_idat = False

        def emit() -> Iterator[np.ndarray]:
            nonlocal canvas, fctl, fdata, n
            f = fctl
            # BOUNDED decompress (r10 review: plain zlib.decompress on an
            # untrusted deflate stream is a decompression bomb — a 204 KB
            # crafted file drove ~459 MB; max_length caps the output at
            # exactly the declared frame's byte need, and every error from
            # the codec layer is re-raised as ApngError so the strict
            # surface matches the docstring)
            need = f["h"] * (1 + f["w"] * ch)
            try:
                raw = zlib.decompressobj().decompress(b"".join(fdata), need)
            except zlib.error as exc:
                raise ApngError(f"bad frame deflate: {exc}") from exc
            try:
                px = unfilter_scanlines(raw, f["w"], f["h"], ch).reshape(
                    f["h"], f["w"], ch
                )
            except ValueError as exc:
                raise ApngError(str(exc)) from exc
            if ch == 1:
                rgba = np.dstack([np.repeat(px, 3, axis=2), np.full_like(px, 255)])
            elif ch == 3:
                rgba = np.dstack([px, np.full(px.shape[:2], 255, np.uint8)])
            else:
                rgba = px
            y0, x0 = f["y"], f["x"]
            region = canvas[y0 : y0 + f["h"], x0 : x0 + f["w"]]
            saved = canvas.copy() if f["dispose"] == 2 else None
            if f["blend"] == 1:
                region[:] = _over(region, rgba)
            else:  # SOURCE
                region[:] = rgba
            # flatten over opaque black to the engine's BGR contract
            a = canvas[..., 3:4].astype(np.uint16)
            rgb = ((canvas[..., :3].astype(np.uint16) * a + 127) // 255).astype(
                np.uint8
            )
            yield rgb[:, :, ::-1].copy()
            n += 1
            if f["dispose"] == 1:  # BACKGROUND: region -> transparent
                region[:] = 0
            elif f["dispose"] == 2 and saved is not None:
                canvas = saved
            fctl = None
            fdata = []

        for tag, payload in _chunks(data):
            if n >= max_frames:
                return
            if tag == b"fcTL":
                if fctl is not None:
                    if not fdata:
                        # a pending fcTL with zero accumulated data would be
                        # silently replaced — a lost frame; keep the strict
                        # surface strict (r10 review)
                        raise ApngError(
                            "fcTL with no frame data for the preceding fcTL"
                        )
                    yield from emit()
                    if n >= max_frames:
                        return
                if len(payload) < 26:
                    raise ApngError("short fcTL")
                (seq, fw, fh, fx, fy, _dn, _dd, disp, blend) = struct.unpack(
                    ">IIIIIHHBB", payload[:26]
                )
                if seq != seq_expect:
                    raise ApngError("fcTL sequence out of order")
                seq_expect += 1
                if (
                    fw <= 0
                    or fh <= 0
                    or fx + fw > w
                    or fy + fh > h
                    or disp > 2
                    or blend > 1
                ):
                    raise ApngError("invalid frame control")
                fctl = {
                    "w": fw, "h": fh, "x": fx, "y": fy,
                    "dispose": disp, "blend": blend,
                }
                if not saw_idat:
                    first_fctl_seen_before_idat = True
            elif tag == b"IDAT":
                saw_idat = True
                # IDAT is animation frame 0 only when an fcTL preceded it;
                # otherwise it is the hidden still (skipped)
                if first_fctl_seen_before_idat:
                    fdata.append(payload)
            elif tag == b"fdAT":
                if len(payload) < 4:
                    raise ApngError("truncated fdAT")
                (seq,) = struct.unpack(">I", payload[:4])
                if seq != seq_expect:
                    raise ApngError("fdAT sequence out of order")
                seq_expect += 1
                if fctl is None:
                    raise ApngError("fdAT with no preceding fcTL")
                fdata.append(payload[4:])
            elif tag == b"IEND":
                break
        if fctl is not None and fdata:
            yield from emit()

    return frames()


def probe_apng(data: bytes) -> dict:
    """Container-metadata probe: IHDR dims + acTL frame count + summed
    fcTL delays — chunk walking only, no pixel work."""
    if data[:8] != _PNG_SIG:
        raise ApngError("not a PNG stream")
    from fractions import Fraction

    w = h = None
    n_frames = None
    delay_s = Fraction(0)  # exact: 3 frames at 1/10 s must probe as 10 fps
    n_fctl = 0
    for tag, payload in _chunks(data):
        if tag == b"IHDR" and len(payload) >= 8:
            w, h = struct.unpack(">II", payload[:8])
        elif tag == b"acTL" and len(payload) >= 8:
            (n_frames, _plays) = struct.unpack(">II", payload[:8])
        elif tag == b"fcTL":
            if len(payload) < 26:
                raise ApngError("short fcTL")
            _s, _fw, _fh, _fx, _fy, dn, dd, _d, _b = struct.unpack(
                ">IIIIIHHBB", payload[:26]
            )
            delay_s += Fraction(dn, dd or 100)  # spec: den 0 means 100
            n_fctl += 1
    if w is None or n_frames is None:
        raise ApngError("missing IHDR/acTL")
    # n_frames reports the counted fcTLs — what decode_apng will actually
    # emit — not acTL's declared count, so the probe's n_frames, fps and
    # duration are mutually consistent even when a malformed file's acTL
    # disagrees (r10 review); acTL is still required to be present.
    return {
        "duration_s": float(delay_s) if delay_s else None,
        "width": float(w),
        "height": float(h),
        "n_frames": n_fctl,
        "codec": "apng",
        "fps": float(n_fctl / delay_s) if delay_s else None,
    }


# chunk framing (length + tag + payload + CRC) is shared with stills:
# functions/png.py::_chunk, imported at the top


def encode_apng(
    frames_bgr: list[np.ndarray],
    delay: tuple[int, int] = (4, 100),
    delta: bool = False,
    blend_over: bool = False,
    dispose: int = 0,
    alphas: list[np.ndarray] | None = None,
) -> bytes:
    """Minimal APNG writer (tests and fixtures): RGBA color type 6,
    filter 0 scanlines, one fcTL+fdAT (or IDAT for frame 0) per frame.
    ``delta`` encodes frames 2+ as the bounding rectangle of changed
    pixels (dispose must stay 0/NONE for the diff to be valid);
    ``blend_over`` marks frames 2+ OVER instead of SOURCE;
    ``alphas`` optionally supplies per-frame (H, W) alpha planes (for
    OVER-compositing fixtures); default fully opaque, which makes
    decode(encode(x)) bit-identical to x."""
    if not frames_bgr:
        raise ApngError("need at least one frame")
    if delta and dispose != 0:
        raise ApngError("delta encoding requires dispose 0 (NONE)")
    h, w, _ = frames_bgr[0].shape
    rgba = []
    for i, f in enumerate(frames_bgr):
        f = np.asarray(f, dtype=np.uint8)
        if f.shape != (h, w, 3):
            raise ApngError("all frames must share the first frame's shape")
        a = (
            np.asarray(alphas[i], dtype=np.uint8)
            if alphas is not None
            else np.full((h, w), 255, np.uint8)
        )
        rgba.append(np.dstack([f[:, :, ::-1], a]))

    def _idat_body(px: np.ndarray) -> bytes:
        rows = b"".join(b"\x00" + px[y].tobytes() for y in range(px.shape[0]))
        return zlib.compress(rows)

    out = bytearray(_PNG_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += _chunk(b"acTL", struct.pack(">II", len(rgba), 0))
    seq = 0
    prev = None
    for t, px in enumerate(rgba):
        x0 = y0 = 0
        rect = px
        if delta and prev is not None:
            diff = np.any(px != prev, axis=2)
            ys, xs = np.nonzero(diff)
            if len(ys) == 0:
                y0, x0 = 0, 0
                rect = px[:1, :1]
            else:
                y0, y1 = int(ys.min()), int(ys.max()) + 1
                x0, x1 = int(xs.min()), int(xs.max()) + 1
                rect = px[y0:y1, x0:x1]
        blend = 1 if (blend_over and t > 0) else 0
        out += _chunk(
            b"fcTL",
            struct.pack(
                ">IIIIIHHBB",
                seq, rect.shape[1], rect.shape[0], x0, y0,
                delay[0], delay[1], dispose, blend,
            ),
        )
        seq += 1
        body = _idat_body(rect)
        if t == 0:
            out += _chunk(b"IDAT", body)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + body)
            seq += 1
        prev = px
    out += _chunk(b"IEND", b"")
    return bytes(out)
