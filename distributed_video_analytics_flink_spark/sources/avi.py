"""Uncompressed AVI (RIFF ``AVI ``) video: the second codec-free REAL
container decode, widening S4 coverage (COVERAGE.md) alongside Y4M.

The reference opens arbitrary containers through OpenCV ``VideoCapture``
(VideoEventCreator.java:54-96); this container ships no codec library, so
compressed streams stay honestly stubbed — but a raw-DIB AVI (``strf``
BITMAPINFOHEADER with biCompression=0/BI_RGB, 24-bit) stores literal BGR
rows, and the RIFF chunk walk is the same pure offset math
``sources/wav.py`` already uses for WAV (WAV and AVI are sibling RIFF
form types). Decoding needs nothing beyond byte slicing + one numpy
reshape per frame, which makes the video path end-to-end REAL on a second
genuine container format: binaryFile scan -> movi frame chunks ->
bottom-up padded DIB rows -> (H, W, 3) BGR -> the same wire rows /
motion pipeline the Y4M path feeds.

Layout (public spec: Microsoft "AVI RIFF File Reference"):
  RIFF('AVI ')
    LIST('hdrl')  avih (main header), LIST('strl') per stream:
                  strh (fccType 'vids', dwScale/dwRate -> fps),
                  strf (BITMAPINFOHEADER)
    LIST('movi')  '{NN}db' / '{NN}dc' chunks, one frame each (NN = stream)
    [idx1]        optional index — not needed for a sequential decode
DIB pixel rows are BGR, padded to 4-byte stride, bottom-up when biHeight
is positive (top-down when negative — both handled).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import islice

import numpy as np

from distributed_video_analytics_flink_spark.sources.jpeg import (
    encode_jpeg,
    is_jpeg,
    jpeg_dims,
)
from distributed_video_analytics_flink_spark.sources.mjpeg import mjpeg_frames

AVI_MAGIC_FORM = b"AVI "  # RIFF form type at bytes 8:12
_MJPG_FOURCCS = (0x47504A4D, 0x67706A6D)  # 'MJPG' / 'mjpg' little-endian


class AviError(ValueError):
    """Malformed AVI input (callers treat like any corrupt-file case)."""


@dataclass(frozen=True)
class AviHeader:
    width: int
    height: int
    fps_num: int  # strh dwRate (fallback: 1e6 vs avih microsec/frame)
    fps_den: int  # strh dwScale
    n_frames: int  # avih dwTotalFrames (may be 0; movi walk is the truth)
    stream_id: int  # index of the first 'vids' stream
    top_down: bool  # negative biHeight
    movi_start: int  # offset of the movi LIST body (after the list type)
    movi_end: int
    codec: str = "rawbgr"  # "rawbgr" (BI_RGB 24-bit) | "mjpeg" (MJPG)

    @property
    def fps(self) -> float:
        return self.fps_num / self.fps_den if self.fps_den else 0.0

    @property
    def stride(self) -> int:
        return (self.width * 3 + 3) & ~3  # DIB rows pad to 4 bytes


def is_avi(data: bytes) -> bool:
    return len(data) >= 12 and data[0:4] == b"RIFF" and data[8:12] == AVI_MAGIC_FORM


def _chunks(
    data: bytes, pos: int, end: int
) -> Iterator[tuple[bytes, int, int, int]]:
    """Yield (fourcc, body_offset, clamped_size, declared_size) over a
    RIFF chunk run; tolerates a truncated tail by clamping to the buffer
    (PERMISSIVE) while exposing the declared size so variable-length
    codecs can tell a whole chunk from a chopped one."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        yield cid, body, min(size, max(0, end - body)), size
        pos = body + size + (size & 1)  # chunks are word-aligned


def parse_avi_header(data: bytes) -> AviHeader:
    if not is_avi(data):
        raise AviError("not a RIFF/AVI stream")
    end = min(len(data), 8 + struct.unpack_from("<I", data, 4)[0])
    width = height = n_frames = 0
    fps_num = fps_den = 0  # set from strh; avih/default fallbacks below
    us_per_frame = 0
    movi = None
    stream_id = -1
    top_down = False
    codec = "rawbgr"
    n_streams_seen = 0
    found_vids = False
    for cid, body, size, _ in _chunks(data, 12, end):
        if cid != b"LIST" or size < 4:
            continue
        ltype = data[body : body + 4]
        if ltype == b"hdrl":
            for hcid, hbody, hsize, _ in _chunks(data, body + 4, body + size):
                if hcid == b"avih" and hsize >= 40:
                    us_per_frame, n_frames = (
                        struct.unpack_from("<I", data, hbody)[0],
                        struct.unpack_from("<I", data, hbody + 16)[0],
                    )
                    if not found_vids:
                        # avih dims are a fallback only: once a vids strf has
                        # been parsed its dimensions are authoritative, and a
                        # reordered avih-after-strl must not clobber the
                        # stride/frame size (ADVICE r6)
                        width, height = (
                            struct.unpack_from("<I", data, hbody + 32)[0],
                            struct.unpack_from("<I", data, hbody + 36)[0],
                        )
                elif hcid == b"LIST" and hsize >= 4 and data[hbody : hbody + 4] == b"strl":
                    this_stream = n_streams_seen
                    n_streams_seen += 1
                    if found_vids:
                        continue
                    # collect BOTH headers first, decide after: gating strf
                    # on having already seen strh would skip validation in
                    # a strf-before-strh strl, letting a compressed stream
                    # decode as garbage instead of raising (r6 review)
                    strh_at = strf_at = None
                    for scid, sbody, ssize, _ in _chunks(data, hbody + 4, hbody + hsize):
                        if scid == b"strh" and ssize >= 32 and strh_at is None:
                            strh_at = sbody
                        elif scid == b"strf" and ssize >= 20 and strf_at is None:
                            strf_at = sbody
                    if strh_at is None or data[strh_at : strh_at + 4] != b"vids":
                        continue  # not a video stream: skip this strl
                    scale, rate = struct.unpack_from("<II", data, strh_at + 20)
                    if rate and scale:
                        fps_num, fps_den = rate, scale
                    stream_id = this_stream
                    found_vids = True
                    if strf_at is None:
                        raise AviError("vids stream missing strf")
                    bw, bh = struct.unpack_from("<ii", data, strf_at + 4)
                    bits, comp = (
                        struct.unpack_from("<H", data, strf_at + 14)[0],
                        struct.unpack_from("<I", data, strf_at + 16)[0],
                    )
                    if comp in _MJPG_FOURCCS:
                        codec = "mjpeg"  # per-frame baseline JPEG (jpeg.py)
                    elif comp != 0 or bits != 24:
                        raise AviError(
                            f"unsupported stream (compression={comp}, "
                            f"{bits}-bit) — raw 24-bit BI_RGB or MJPG only"
                        )
                    width, height = bw, abs(bh)
                    top_down = bh < 0
        elif ltype == b"movi":
            movi = (body + 4, body + size)
    if movi is None or stream_id < 0:
        raise AviError("missing movi list or vids stream")
    if width <= 0 or height <= 0:
        raise AviError("missing stream dimensions")
    if not fps_den:  # strh rate/scale absent or zero
        if us_per_frame:
            fps_num, fps_den = 1_000_000, us_per_frame  # avih fallback
        else:
            fps_num, fps_den = 30, 1  # last-resort default
    return AviHeader(
        width, height, fps_num, fps_den, n_frames, stream_id, top_down, *movi, codec
    )


def _stream_chunks(data: bytes, hdr: AviHeader) -> Iterator[tuple[int, int, int]]:
    """(body_offset, clamped_size, declared_size) per movi chunk of the
    header's video stream."""
    want = (b"%02ddb" % hdr.stream_id, b"%02ddc" % hdr.stream_id)
    for cid, body, size, declared in _chunks(data, hdr.movi_start, hdr.movi_end):
        if cid in want:
            yield body, size, declared


def _mjpeg_chunks(data: bytes, hdr: AviHeader) -> Iterator[bytes]:
    """The MJPEG demux: each whole video chunk with a JPEG signature, by
    offset math alone; a chopped final chunk ends the stream and a
    non-JPEG chunk under the stream id is skipped."""
    for body, size, declared in _stream_chunks(data, hdr):
        if size < declared:
            return
        if is_jpeg(data[body : body + 3]):
            yield data[body : body + size]


def demux_mjpeg_avi(
    data: bytes, max_frames: int | None = None
) -> Iterator[tuple[int, int, bytes]]:
    """``(src_rows, src_cols, jpeg_bytes)`` per MJPEG chunk, at most
    ``max_frames`` of them. Raises AviError eagerly on a bad header or a
    stream that is not MJPEG."""
    hdr = parse_avi_header(data)
    if hdr.codec != "mjpeg":
        raise AviError(f"not an MJPEG stream ({hdr.codec})")
    return islice(((hdr.height, hdr.width, c) for c in _mjpeg_chunks(data, hdr)), max_frames)


def _dib_frames(data: bytes, hdr: AviHeader) -> Iterator[np.ndarray]:
    h, w, stride = hdr.height, hdr.width, hdr.stride
    need = stride * h
    for body, size, _ in _stream_chunks(data, hdr):
        if size < need:
            continue
        img = (
            np.frombuffer(data, np.uint8, need, body)
            .reshape(h, stride)[:, : w * 3]
            .reshape(h, w, 3)
        )
        yield img if hdr.top_down else img[::-1]


def decode_avi(
    data: bytes, max_frames: int | None = None
) -> tuple[AviHeader, Iterator[np.ndarray]]:
    """Parse header and return (header, iterator of (H, W, 3) BGR frames),
    at most ``max_frames`` of them.

    Frame slicing is offset math over the movi chunk run — the file is
    never copied; a short raw-DIB chunk is skipped. MJPEG is the demux
    above, then the shared per-chunk rule (sources/mjpeg.py)."""
    hdr = parse_avi_header(data)
    if hdr.codec == "mjpeg":
        frames = mjpeg_frames(_mjpeg_chunks(data, hdr), (hdr.height, hdr.width))
    else:
        frames = _dib_frames(data, hdr)
    return hdr, islice(frames, max_frames)


def probe_avi(data: bytes) -> dict:
    """Container-metadata probe (the AVI twin of probe_y4m/probe_mp4):
    header fields + frame count by chunk-walking movi — no pixel work.

    For the raw codec the chunk-size predicate matches decode_avi exactly
    (probe n_frames == decoded frames). For MJPEG, n_frames counts the
    demuxed chunks — an UPPER BOUND on decoded frames, since decode
    additionally skips chunks whose body fails to parse or whose SOF dims
    disagree with the header; an exact count would need per-chunk pixel
    work, which a probe must not do."""
    hdr = parse_avi_header(data)
    if hdr.codec == "mjpeg":
        n = sum(1 for _ in _mjpeg_chunks(data, hdr))
    else:
        need = hdr.stride * hdr.height
        n = sum(1 for _, size, _d in _stream_chunks(data, hdr) if size >= need)
    return {
        "duration_s": (n / hdr.fps) if hdr.fps else None,
        "width": float(hdr.width),
        "height": float(hdr.height),
        "n_frames": n,
        "codec": f"avi/{hdr.codec}",
        "fps": hdr.fps,
    }


def encode_avi(
    frames_bgr: list[np.ndarray],
    fps: int = 30,
    codec: str = "rawbgr",
    quality: int = 95,
    jpeg_tables: str = "custom",
    pre_encoded: list[bytes] | None = None,
) -> bytes:
    """Minimal AVI writer (tests and fixtures). ``codec="rawbgr"``: 24-bit
    BI_RGB bottom-up padded DIB rows, one '00db' chunk per frame.
    ``codec="mjpeg"``: one baseline JPEG ('00dc' chunk) per frame via
    jpeg.py at the given ``quality`` (``jpeg_tables`` passes through to
    encode_jpeg — "annexk-nodht" reproduces the DHT-less hardware-encoder
    files the decoder's default-table fallback handles). No idx1 either
    way (players prefer one; a sequential decode doesn't need it).

    ``pre_encoded`` (mjpeg only, r18): per-frame JPEG bytes produced
    elsewhere — callers that build several containers from one fixture
    encode each frame once (or off-driver) and pass the samples here;
    the container assembly itself is pure struct packing. The count and
    the first sample's SOF dims are checked against ``frames_bgr``."""
    if not frames_bgr:
        raise AviError("need at least one frame")
    if codec not in ("rawbgr", "mjpeg"):
        raise AviError(f"unknown codec {codec!r}")
    h, w, _ = frames_bgr[0].shape
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h

    def _dib(frame: np.ndarray) -> bytes:
        f = np.asarray(frame, dtype=np.uint8)
        if f.shape != (h, w, 3):
            raise AviError("all frames must share the first frame's shape")
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = f[::-1].reshape(h, w * 3)  # bottom-up
        return rows.tobytes()

    def _jpg(frame: np.ndarray) -> bytes:
        f = np.asarray(frame, dtype=np.uint8)
        if f.shape != (h, w, 3):
            raise AviError("all frames must share the first frame's shape")
        return encode_jpeg(f, quality=quality, tables=jpeg_tables)

    mjpeg = codec == "mjpeg"
    handler = b"MJPG" if mjpeg else b"DIB "
    compression = 0x47504A4D if mjpeg else 0
    strh = b"vids" + handler + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames_bgr), frame_bytes, 0, 0
    ) + struct.pack("<hhhh", 0, 0, w, h)
    # fields: flags, prio, lang, initial, scale=1, rate=fps, start, length,
    # bufsize, quality, samplesize, rcFrame(l, t, r, b) — 56 bytes total
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, frame_bytes, 0, 0, 0, 0
    )

    def _chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def _list(ltype: bytes, body: bytes) -> bytes:
        return _chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        round(1_000_000 / fps) if fps else 0,  # dwMicroSecPerFrame
        frame_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0,  # dwFlags
        len(frames_bgr),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_bytes,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    if mjpeg:
        if pre_encoded is not None and len(pre_encoded) != len(frames_bgr):
            raise AviError("pre_encoded length must match frames")
        if pre_encoded is not None and jpeg_dims(pre_encoded[0]) != (h, w):
            raise AviError("pre_encoded SOF dims must match the first frame's shape")
        jpgs = pre_encoded if pre_encoded is not None else [_jpg(f) for f in frames_bgr]
        movi = _list(b"movi", b"".join(_chunk(b"00dc", j) for j in jpgs))
    else:
        movi = _list(b"movi", b"".join(_chunk(b"00db", _dib(f)) for f in frames_bgr))
    body = AVI_MAGIC_FORM + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
