"""Pure-stdlib ISO BMFF (MP4) container probe AND real pixel decode for
MJPEG-carrying MP4s — zero codec dependencies.

The reference opens each video with OpenCV and reads stream properties
before decoding (VideoEventCreator.java:54-96). This container ships no
cv2/ffmpeg, so inter-frame codecs (avc1 etc.) stay stubbed
(video_files.py), but the container layer — what ffprobe reports
without touching a codec — is plain box arithmetic, and when the video
track's sample entry is Motion-JPEG ('jpeg'/'mjpa'/'mjpg': one baseline
JPEG per sample) the samples decode to REAL pixels through the engine's
pure-numpy JPEG codec (sources/jpeg.py) — MP4 becomes the THIRD real
video container after Y4M and AVI. Sample byte ranges come from the
standard sample-table walk (stsc sample-to-chunk runs x stco/co64 chunk
offsets x stsz sizes), the same arithmetic every demuxer performs.

Box grammar: [size:4][fourcc:4] headers, containers recursed, leaf
boxes decoded per ISO/IEC 14496-12:

- ``mvhd``  movie timescale + duration            -> duration seconds
- ``tkhd``  track header                          -> width/height (16.16 fixed)
- ``hdlr``  handler type                          -> find the 'vide' track
- ``mdhd``  media timescale + duration            -> per-track timebase
- ``stsz``  sample table sizes                    -> video sample (frame) count
- ``stsd``  sample description                    -> codec fourcc (avc1, ...)
- ``moof``/``traf``/``tfhd``/``trun``            -> fragmented-MP4 samples
  (fMP4 keeps an empty sample table in moov; frames arrive per fragment,
  so the probe sums trun sample counts/durations for the video track,
  falling back to tfhd then trex default sample durations. The fragment
  sums are a FALLBACK used only when moov's stsz count / mdhd duration is
  zero — hybrid files populating both would otherwise double-count.)

Frame rate falls out as n_samples * media_timescale / media_duration.
At 100 TB this probe is the cheap planning pass a video corpus pipeline
runs first (partition by duration/codec, route to decode clusters); it
reads only the bytes Spark's binaryFile scan already holds in memory.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from itertools import islice
from typing import Any

import numpy as np

from distributed_video_analytics_flink_spark.sources.jpeg import (
    encode_jpeg,
    is_jpeg,
    jpeg_dims,
)
from distributed_video_analytics_flink_spark.sources.mjpeg import mjpeg_frames

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

# Sample-entry fourccs whose samples are standalone baseline JPEGs
# (QuickTime photo-JPEG and Motion-JPEG A/B per-frame layouts; MJPA
# frames carry extra APPn markers the JPEG decoder already skips).
MJPEG_SAMPLE_ENTRIES = {"jpeg", "mjpa", "mjpg", "MJPG", "dmb1", "AVDJ"}


class Mp4Error(ValueError):
    """Not an MP4, no decodable video track, or unsupported codec."""


def _iter_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for sibling boxes."""
    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", buf, off)[0]
        fourcc = buf[off + 4 : off + 8]
        header = 8
        if size == 1:  # 64-bit largesize
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", buf, off + 8)[0]
            header = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - off
        if size < header or off + size > end:
            return  # corrupt/truncated: stop rather than throw
        yield fourcc, off + header, off + size
        off += size


def _fullbox(buf: bytes, start: int, end: int) -> tuple[int, int] | None:
    """(version, payload offset past version+flags), or None if the payload
    is too short to even hold the fullbox header. Box framing (`_iter_boxes`)
    only validates the outer [size:fourcc] envelope; a corrupt file can
    declare a leaf box whose payload is shorter than its fixed layout, so
    every leaf parser re-checks the bytes it is about to read."""
    if end - start < 4:
        return None
    return buf[start], start + 4


def _parse_mvhd(buf: bytes, start: int, end: int, out: dict[str, Any]) -> None:
    fb = _fullbox(buf, start, end)
    if fb is None:
        return
    v, p = fb
    if v == 1:
        if p + 28 > end:
            return
        timescale = struct.unpack_from(">I", buf, p + 16)[0]
        duration = struct.unpack_from(">Q", buf, p + 20)[0]
    else:
        if p + 16 > end:
            return
        timescale = struct.unpack_from(">I", buf, p + 8)[0]
        duration = struct.unpack_from(">I", buf, p + 12)[0]
    out["movie_timescale"] = timescale
    out["movie_duration"] = duration


def _parse_tkhd(buf: bytes, start: int, end: int, trak: dict[str, Any]) -> None:
    fb = _fullbox(buf, start, end)
    if fb is None:
        return
    v, p = fb
    # v0 body is 80 bytes, v1 is 92 (creation/mod/duration widen to 64-bit);
    # width/height are the last 8 bytes of the body in both versions
    body = 92 if v == 1 else 80
    if p + body > end:
        return
    trak["track_id"] = struct.unpack_from(">I", buf, p + (16 if v == 1 else 8))[0]
    base = p + body - 8
    trak["width"] = struct.unpack_from(">I", buf, base)[0] / 65536.0
    trak["height"] = struct.unpack_from(">I", buf, base + 4)[0] / 65536.0


def _parse_mdhd(buf: bytes, start: int, end: int, trak: dict[str, Any]) -> None:
    fb = _fullbox(buf, start, end)
    if fb is None:
        return
    v, p = fb
    if v == 1:
        if p + 28 > end:
            return
        trak["media_timescale"] = struct.unpack_from(">I", buf, p + 16)[0]
        trak["media_duration"] = struct.unpack_from(">Q", buf, p + 20)[0]
    else:
        if p + 16 > end:
            return
        trak["media_timescale"] = struct.unpack_from(">I", buf, p + 8)[0]
        trak["media_duration"] = struct.unpack_from(">I", buf, p + 12)[0]


def _parse_trak(buf: bytes, start: int, end: int) -> dict[str, Any]:
    trak: dict[str, Any] = {}

    def walk(s: int, e: int) -> None:
        for fourcc, ps, pe in _iter_boxes(buf, s, e):
            if fourcc in _CONTAINERS:
                walk(ps, pe)
            elif fourcc == b"tkhd":
                _parse_tkhd(buf, ps, pe, trak)
            elif fourcc == b"mdhd":
                _parse_mdhd(buf, ps, pe, trak)
            elif fourcc == b"hdlr":
                trak["handler"] = buf[ps + 8 : ps + 12].decode("ascii", "replace")
            elif fourcc == b"stsz" and pe - ps >= 12:
                fixed = struct.unpack_from(">I", buf, ps + 4)[0]
                count = struct.unpack_from(">I", buf, ps + 8)[0]
                trak["n_samples"] = count
                if fixed:
                    # Bound the expansion by what the file could actually
                    # hold: `count` is an untrusted 32-bit field, and a
                    # ~50-byte crafted file claiming 0xFFFFFFFF samples
                    # must not force a multi-GB list allocation (r7
                    # review). Samples pack inside the file, so CAP the
                    # count at len(buf)//fixed rather than dropping the
                    # table outright — a legitimate file truncated
                    # mid-mdat keeps its intact prefix decodable (the
                    # "truncated mdat ends the stream" contract), while
                    # the hostile claim still allocates at most one entry
                    # per file byte (r8 review).
                    trak["sample_sizes"] = [fixed] * min(count, len(buf) // fixed)
                elif ps + 12 + 4 * count <= pe:
                    trak["sample_sizes"] = list(
                        struct.unpack_from(f">{count}I", buf, ps + 12)
                    )
            elif fourcc == b"stco" and pe - ps >= 8:
                n = struct.unpack_from(">I", buf, ps + 4)[0]
                if ps + 8 + 4 * n <= pe:
                    trak["chunk_offsets"] = list(struct.unpack_from(f">{n}I", buf, ps + 8))
            elif fourcc == b"co64" and pe - ps >= 8:
                n = struct.unpack_from(">I", buf, ps + 4)[0]
                if ps + 8 + 8 * n <= pe:
                    trak["chunk_offsets"] = list(struct.unpack_from(f">{n}Q", buf, ps + 8))
            elif fourcc == b"stsc" and pe - ps >= 8:
                n = struct.unpack_from(">I", buf, ps + 4)[0]
                if ps + 8 + 12 * n <= pe:
                    trak["stsc_runs"] = [
                        struct.unpack_from(">II", buf, ps + 8 + 12 * i)  # (first, spc)
                        for i in range(n)
                    ]
            elif fourcc == b"stsd" and pe - ps >= 16:
                n = struct.unpack_from(">I", buf, ps + 4)[0]
                if n >= 1:
                    trak["codec"] = buf[ps + 12 : ps + 16].decode("ascii", "replace")

    walk(start, end)
    return trak


def _parse_trex(buf: bytes, start: int, end: int) -> tuple[int, int] | None:
    """(track_id, default_sample_duration) from the mvex/trex box."""
    fb = _fullbox(buf, start, end)
    if fb is None or fb[1] + 12 > end:
        return None
    p = fb[1]
    track_id = struct.unpack_from(">I", buf, p)[0]
    default_dur = struct.unpack_from(">I", buf, p + 8)[0]
    return track_id, default_dur


def _parse_moof(
    buf: bytes, start: int, end: int, video_track: int, trex_dur: int
) -> tuple[int, int]:
    """(samples, summed sample durations) for the video track's traf(s)."""
    n, dur = 0, 0
    for fourcc, ps, pe in _iter_boxes(buf, start, end):
        if fourcc != b"traf":
            continue
        track_id, tfhd_dur = None, 0
        for f2, p2, e2 in _iter_boxes(buf, ps, pe):
            if f2 == b"tfhd":
                if p2 + 8 > e2:
                    continue
                flags = int.from_bytes(buf[p2 + 1 : p2 + 4], "big")
                q = p2 + 4
                track_id = struct.unpack_from(">I", buf, q)[0]
                q += 4
                q += 8 if flags & 0x01 else 0  # base-data-offset
                q += 4 if flags & 0x02 else 0  # sample-description-index
                if flags & 0x08 and q + 4 <= e2:
                    tfhd_dur = struct.unpack_from(">I", buf, q)[0]
            elif f2 == b"trun" and track_id == video_track:
                if p2 + 8 > e2:
                    continue
                flags = int.from_bytes(buf[p2 + 1 : p2 + 4], "big")
                count = struct.unpack_from(">I", buf, p2 + 4)[0]
                n += count
                q = p2 + 8
                q += 4 if flags & 0x001 else 0  # data-offset
                q += 4 if flags & 0x004 else 0  # first-sample-flags
                per = (
                    (4 if flags & 0x100 else 0)
                    + (4 if flags & 0x200 else 0)
                    + (4 if flags & 0x400 else 0)
                    + (4 if flags & 0x800 else 0)
                )
                if flags & 0x100 and q + count * per <= e2:
                    for i in range(count):  # per-sample durations present
                        dur += struct.unpack_from(">I", buf, q + i * per)[0]
                else:
                    dur += count * (tfhd_dur or trex_dur)
    return n, dur


def probe_mp4(content: bytes) -> dict[str, Any]:
    """Parse MP4 container metadata from raw bytes. Returns a dict with
    ``duration_s``, ``width``, ``height``, ``n_frames``, ``codec``,
    ``fps`` (None for fields the file doesn't carry — the probe never
    raises on truncated or non-MP4 input, it returns what it found)."""
    out: dict[str, Any] = {}
    video: dict[str, Any] = {}
    trex_durs: dict[int, int] = {}
    moofs: list[tuple[int, int]] = []
    moof_n, moof_dur = 0, 0
    try:
        for fourcc, ps, pe in _iter_boxes(content, 0, len(content)):
            if fourcc == b"moov":
                for f2, p2, e2 in _iter_boxes(content, ps, pe):
                    if f2 == b"mvhd":
                        _parse_mvhd(content, p2, e2, out)
                    elif f2 == b"trak":
                        trak = _parse_trak(content, p2, e2)
                        if trak.get("handler") == "vide" and not video:
                            video = trak
                    elif f2 == b"mvex":
                        for f3, p3, e3 in _iter_boxes(content, p2, e2):
                            if f3 == b"trex":
                                trex = _parse_trex(content, p3, e3)
                                if trex is not None:
                                    trex_durs[trex[0]] = trex[1]
            elif fourcc == b"moof":
                moofs.append((ps, pe))
        if moofs and video.get("track_id") is not None:
            trex_dur = trex_durs.get(video["track_id"], 0)
            for ps, pe in moofs:
                n, d = _parse_moof(content, ps, pe, video["track_id"], trex_dur)
                moof_n += n
                moof_dur += d
    except (struct.error, IndexError, OverflowError, MemoryError):
        # Box framing claimed bytes a leaf layout then overran (a corrupt
        # size field can lie in ways the per-leaf guards don't enumerate;
        # MemoryError covers hostile counts that defeat the size bounds).
        # Never-raises contract: keep whatever was parsed before the fault.
        pass
    # fMP4 keeps an *empty* sample table / zero media duration in moov and
    # ships frames per fragment; hybrid muxers may populate both. Prefer
    # moov's totals and fall back to the fragment sums — never add them,
    # which would double-count files carrying both (ISO 14496-12 allows it).
    # The fallback must be PAIRED: a hybrid file with moov sample counts but
    # zero moov duration (or vice versa) would otherwise mix moov samples
    # with moof duration and report a bogus fps.
    paired = True
    if video.get("n_samples") and video.get("media_duration"):
        n_samples, media_dur = video["n_samples"], video["media_duration"]
    elif moof_n and moof_dur:
        n_samples, media_dur = moof_n, moof_dur
    else:
        # No self-consistent pair from either source: surface whatever
        # partial counts exist, but any (samples, duration) combination here
        # is cross-source, so fps must stay None.
        n_samples = video.get("n_samples") or moof_n
        media_dur = video.get("media_duration") or moof_dur
        paired = False
    duration_s = None
    if out.get("movie_timescale") and out.get("movie_duration"):
        duration_s = out["movie_duration"] / out["movie_timescale"]
    elif video.get("media_timescale") and media_dur:
        duration_s = media_dur / video["media_timescale"]  # fMP4: mvhd says 0
    fps = None
    if paired and media_dur and n_samples and video.get("media_timescale"):
        fps = n_samples * video["media_timescale"] / media_dur
    return {
        "duration_s": duration_s,
        "width": video.get("width"),
        "height": video.get("height"),
        "n_frames": n_samples or None,
        "codec": video.get("codec"),
        "fps": fps,
    }


def _find_video_trak(content: bytes) -> dict[str, Any]:
    """First 'vide'-handler trak's parsed fields, or raise Mp4Error."""
    video: dict[str, Any] = {}
    try:
        for fourcc, ps, pe in _iter_boxes(content, 0, len(content)):
            if fourcc != b"moov":
                continue
            for f2, p2, e2 in _iter_boxes(content, ps, pe):
                if f2 == b"trak":
                    trak = _parse_trak(content, p2, e2)
                    if trak.get("handler") == "vide" and not video:
                        video = trak
    except (struct.error, IndexError, OverflowError, MemoryError) as e:
        raise Mp4Error(f"corrupt MP4 box structure: {e}") from e
    if not video:
        raise Mp4Error("no video track")
    return video


def video_sample_ranges(trak: dict[str, Any]) -> Iterator[tuple[int, int]]:
    """(offset, size) per video sample from the standard sample-table
    walk: stsc runs say how many samples each chunk holds, stco/co64
    give chunk start offsets, samples pack back-to-back inside a chunk
    with stsz sizes — the byte arithmetic every MP4 demuxer performs."""
    sizes = trak.get("sample_sizes")
    chunks = trak.get("chunk_offsets")
    runs = trak.get("stsc_runs")
    if not sizes or not chunks or not runs:
        raise Mp4Error("video track missing sample tables (fragmented?)")
    s = 0
    run_i = 0
    for chunk_no, chunk_off in enumerate(chunks, 1):
        while run_i + 1 < len(runs) and runs[run_i + 1][0] <= chunk_no:
            run_i += 1
        spc = runs[run_i][1]
        off = chunk_off
        for _ in range(spc):
            if s >= len(sizes):
                return
            yield off, sizes[s]
            off += sizes[s]
            s += 1


def _mjpeg_samples(content: bytes) -> tuple[dict[str, Any], Iterator[bytes]]:
    """The MJPEG demux: (video trak, each whole sample with a JPEG
    signature). A sample range past the end of the buffer ends the stream
    (truncated mdat); a foreign sample under an MJPEG entry is skipped.
    Non-MP4 input, a missing video track or sample table, or a non-MJPEG
    codec raise Mp4Error EAGERLY."""
    trak = _find_video_trak(content)
    codec = trak.get("codec")
    if codec not in MJPEG_SAMPLE_ENTRIES:
        raise Mp4Error(f"unsupported codec {codec!r} (MJPEG sample entries only)")
    ranges = list(video_sample_ranges(trak))

    def samples() -> Iterator[bytes]:
        for off, size in ranges:
            if off + size > len(content):
                return
            if is_jpeg(content[off : off + 3]):
                yield content[off : off + size]

    return trak, samples()


def _track_dims(trak: dict[str, Any]) -> tuple[int, int]:
    return int(trak.get("height") or 0), int(trak.get("width") or 0)


def demux_mjpeg_mp4(
    content: bytes, max_frames: int | None = None
) -> Iterator[tuple[int, int, bytes]]:
    """``(src_rows, src_cols, jpeg_bytes)`` per MJPEG sample, at most
    ``max_frames`` of them; the dims are the track header's (0 = unknown).
    Raises Mp4Error like :func:`_mjpeg_samples`."""
    trak, samples = _mjpeg_samples(content)
    sr, sc = _track_dims(trak)
    return islice(((sr, sc, s) for s in samples), max_frames)


def decode_mp4(
    content: bytes, max_frames: int | None = None
) -> tuple[dict[str, Any], Iterator[np.ndarray]]:
    """REAL pixel decode for MJPEG-carrying MP4s: each video sample is a
    standalone baseline JPEG, decoded through sources/jpeg.py. Returns
    (video-trak dict, iterator of at most ``max_frames`` (H, W, 3) BGR
    frames): the demux above, then the shared per-chunk rule
    (sources/mjpeg.py). Raises Mp4Error eagerly, like the demux."""
    trak, samples = _mjpeg_samples(content)
    return trak, islice(mjpeg_frames(samples, _track_dims(trak)), max_frames)


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + fourcc + body


def _fbox(fourcc: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + body)


def encode_mp4_mjpeg(
    frames_bgr: list[np.ndarray],
    fps: int = 30,
    quality: int = 95,
    jpeg_tables: str = "custom",
    samples_per_chunk: int = 2,
    pre_encoded: list[bytes] | None = None,
) -> bytes:
    """Minimal MJPEG-in-MP4 writer (tests and fixtures): ftyp + mdat of
    concatenated baseline JPEGs + a moov whose sample tables describe
    them ('jpeg' VisualSampleEntry; media timescale = fps, one tick per
    sample, so probe_mp4 reports the exact fps). ``samples_per_chunk``
    defaults to 2 so fixtures exercise the multi-chunk stsc/stco walk,
    not just the single-chunk degenerate case."""
    if not frames_bgr:
        raise Mp4Error("need at least one frame")
    h, w, _ = frames_bgr[0].shape
    if pre_encoded is not None:
        # per-frame JPEG bytes produced elsewhere (r18): callers building
        # several containers from one fixture encode each frame once
        if len(pre_encoded) != len(frames_bgr):
            raise Mp4Error("pre_encoded length must match frames")
        if jpeg_dims(pre_encoded[0]) != (h, w):
            raise Mp4Error("pre_encoded SOF dims must match the first frame's shape")
        samples = list(pre_encoded)
    else:
        samples = [
            encode_jpeg(
                np.asarray(f, dtype=np.uint8), quality=quality, tables=jpeg_tables
            )
            for f in frames_bgr
        ]
    n = len(samples)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(samples)
    mdat = _box(b"mdat", mdat_payload)
    mdat_body_at = len(ftyp) + 8  # first sample's absolute offset

    # chunk offsets: samples pack back-to-back, samples_per_chunk per chunk
    chunk_offsets = []
    off = mdat_body_at
    for i, s in enumerate(samples):
        if i % samples_per_chunk == 0:
            chunk_offsets.append(off)
        off += len(s)

    mvhd = _fbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, round(n * 1000 / fps))
        + struct.pack(">i", 0x00010000) + struct.pack(">h", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _fbox(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, round(n * 1000 / fps))
        + b"\x00" * 8 + struct.pack(">hhhh", 0, 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _fbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, fps, n) + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _fbox(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"MJPEG\x00")
    # VisualSampleEntry 'jpeg': 78-byte body per ISO 14496-12 / QTFF
    entry = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4 + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 24, -1),
    )
    stsd = _fbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _fbox(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = _fbox(
        b"stsc", 0, 0, struct.pack(">I", 1) + struct.pack(">III", 1, samples_per_chunk, 1)
    )
    stsz = _fbox(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _fbox(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _fbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _fbox(b"dref", 0, 0, struct.pack(">I", 1) + _fbox(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
