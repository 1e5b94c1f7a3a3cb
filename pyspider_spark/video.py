"""Real uncompressed-AVI video codec, stdlib + numpy only (closes the
last multimodal stub the same way audio.py closed WAV: RIFF is a
documented public container that needs no external codec when the
frames are raw DIB/RGB24).

Writer emits a minimal standards-conforming AVI: RIFF('AVI ') →
LIST('hdrl') [avih + LIST('strl')[strh('vids'/'DIB ') + strf
(BITMAPINFOHEADER, 24-bit bottom-up)]] → LIST('movi') with one '00db'
chunk per frame (BGR rows, 4-byte aligned) → 'idx1'. Reader is a real
chunk-walker (tolerates unknown chunks, validates fourccs/sizes), not
an offset mirror of the writer — pinned by tests that corrupt/permute
payloads.

Frame synthesis is INTEGER-ONLY (same discipline as audio.synth_pcm)
so the committed golden fixture is platform-stable.

Reference analogue: the reference stores fetched media as opaque bytes
plus typed metadata (common/response.py:28-46); frame sampling/decode
is the downstream stage its pipelines would bolt on.
"""

from __future__ import annotations

import io
import struct

import numpy as np

from .hashing import h64

FPS = 10


def synth_frames(video_id: str) -> np.ndarray:
    """Deterministic (n_frames, h, w, 3) uint8 RGB clip: 4-10 frames of
    hash-derived moving bars + LCG noise, all int64 ops."""
    n = 4 + int(h64("vn", video_id) % 7)
    w = (16, 24, 32)[h64("vw", video_id) % 3]
    h = (16, 24)[h64("vh", video_id) % 2]
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    out = np.empty((n, h, w, 3), dtype=np.uint8)
    for f in range(n):
        for c in range(3):
            p = 3 + int(h64("vp", video_id, str(c)) % 13)
            v = ((x + f * 2) * 17 + y * 29 + p * (x // p)) % 251
            seed = int(h64("vz", video_id, str(c)) % 8191)
            noise = ((x * 31 + y * 7 + f * 13 + seed) % 17) - 8
            out[f, :, :, c] = np.clip(v + noise, 0, 255).astype(np.uint8)
    return out


def _row_stride(w: int) -> int:
    return (w * 3 + 3) & ~3  # DIB rows pad to 4 bytes


def encode_avi_rgb24(frames: np.ndarray, fps: int = FPS) -> bytes:
    """(n, h, w, 3) uint8 RGB → uncompressed AVI bytes ('DIB ' stream,
    24-bit bottom-up BGR, 4-byte-aligned rows)."""
    n, h, w, _ = frames.shape
    stride = _row_stride(w)
    frame_size = stride * h

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(fourcc: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", fourcc + payload)

    # BITMAPINFOHEADER: 24bpp, BI_RGB, positive height = bottom-up
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    # AVISTREAMHEADER: fccType 'vids', handler 'DIB ', rate fps/1
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, frame_size, 0, 0
        ) + struct.pack("<4h", 0, 0, w, h)
    )
    # MainAVIHeader
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_size * fps, 0, 0x10,  # AVIF_HASINDEX
        n, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    movi_frames, idx, offset = [], [], 4
    for f in range(n):
        bgr = frames[f, ::-1, :, ::-1]  # bottom-up rows, RGB→BGR
        if stride != w * 3:
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, : w * 3] = bgr.reshape(h, w * 3)
            payload = padded.tobytes()
        else:
            payload = np.ascontiguousarray(bgr).tobytes()
        movi_frames.append(chunk(b"00db", payload))
        idx.append(b"00db" + struct.pack("<III", 0x10, offset, len(payload)))
        offset += 8 + len(payload) + (len(payload) % 2)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
    ))
    movi = lst(b"movi", b"".join(movi_frames))
    idx1 = chunk(b"idx1", b"".join(idx))
    riff_payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload


def _walk_chunks(buf: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking a RIFF chunk
    span; tolerant of trailing garbage (stops at a truncated header)."""
    pos = start
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        if pos + 8 + size > end:
            return
        yield fourcc, pos + 8, size
        pos += 8 + size + (size % 2)


def decode_avi_rgb24(data: bytes) -> tuple[np.ndarray, int]:
    """AVI bytes → ((n, h, w, 3) uint8 RGB, fps). Real chunk walk:
    finds hdrl/strl for geometry + rate, collects '00db' (uncompressed
    DIB) movi chunks in order. Raises ValueError on non-AVI, non-24bpp,
    or compressed (biCompression != BI_RGB) streams, and on a missing
    'vids' stream header (strh) or a zero rate scale: the frame rate
    is then unknown, and a guessed one would skew every time-based
    feature while the row still reported decode_ok=True."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    w = h = fps = None
    frames_raw: list[bytes] = []

    def walk_list(start: int, end: int) -> None:
        nonlocal w, h, fps
        for fourcc, ps, sz in _walk_chunks(data, start, end):
            if fourcc == b"LIST":
                walk_list(ps + 4, ps + sz)
            elif fourcc == b"strh" and sz >= 32 and data[ps : ps + 4] == b"vids":
                scale, rate = struct.unpack_from("<II", data, ps + 20)
                if scale:
                    fps = max(1, rate // scale)
            elif fourcc == b"strf" and sz >= 40:
                _, bw, bh, _, bpp, compression = struct.unpack_from(
                    "<IiiHHI", data, ps
                )
                # BI_RGB (0) only: real compressed AVIs (MJPG, h264)
                # conventionally declare bpp=24 with a nonzero
                # biCompression fourcc — without this check their
                # frames would be reinterpreted as raw BGR and emit
                # garbage features with decode_ok=True (r5 review)
                if bpp != 24 or compression != 0:
                    raise ValueError(
                        f"unsupported stream (bpp={bpp}, "
                        f"compression={compression:#x}); only raw "
                        "24-bit BI_RGB is decodable without ffmpeg"
                    )
                w, h = int(bw), abs(int(bh))
            elif fourcc == b"00db":
                # '00db' = uncompressed DIB frame; '00dc' (compressed
                # frame data) is deliberately NOT accepted
                frames_raw.append(data[ps : ps + sz])

    walk_list(12, len(data))
    if w is None or h is None:
        raise ValueError("no video stream format (strf) found")
    if fps is None:
        raise ValueError("no video stream header (strh 'vids' with a rate) found")
    if not frames_raw:
        raise ValueError("no frames in movi list")
    stride = _row_stride(w)
    out = np.empty((len(frames_raw), h, w, 3), dtype=np.uint8)
    for i, payload in enumerate(frames_raw):
        if len(payload) < stride * h:
            raise ValueError(f"frame {i} truncated")
        rows = np.frombuffer(payload[: stride * h], dtype=np.uint8).reshape(
            h, stride
        )
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        out[i] = bgr[::-1, :, ::-1]  # bottom-up → top-down, BGR → RGB
    return out, fps


def sample_frames(frames: np.ndarray, every_n: int) -> np.ndarray:
    """Every n-th frame, first always included (the sampling contract
    the Spark batch stage exposes)."""
    return frames[:: max(1, int(every_n))]


def video_features(frames: np.ndarray, fps: int, every_n: int = 2) -> dict:
    """Typed integer features of a decoded clip (golden-oracle-able):
    geometry, duration, and the mean luma (milli, floor) of the
    SAMPLED frames — pins both the decode and the sampler."""
    n, h, w, _ = frames.shape
    sampled = sample_frames(frames, every_n)
    luma_num = (
        299 * sampled[..., 0].astype(np.int64)
        + 587 * sampled[..., 1].astype(np.int64)
        + 114 * sampled[..., 2].astype(np.int64)
    ).sum()
    denom = sampled.size // 3
    return {
        "n_frames": int(n),
        "w": int(w),
        "h": int(h),
        "fps": int(fps),
        "duration_ms": int(n * 1000 // fps),
        "n_sampled": int(len(sampled)),
        "sampled_luma_milli": int(luma_num // denom),  # exact int: /1000 kept in milli
    }
