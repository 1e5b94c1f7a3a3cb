"""Real uncompressed-AVI video pipeline: lossless RGB24 round-trip
through a hand-written RIFF writer + chunk-walking reader, frame
sampling, per-row decode tolerance, and golden-fixture stability."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pyspider_spark import video as V
from pyspider_spark.data import multimodal as M


@pytest.mark.parametrize("video_id", ["vid0-0", "vid1-0", "vid7-0", "x"])
def test_avi_roundtrip_exact(video_id):
    """Uncompressed DIB frames are lossless: decode(encode(x)) == x
    bit-for-bit, every frame, plus fps."""
    frames = V.synth_frames(video_id)
    payload = V.encode_avi_rgb24(frames, V.FPS)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    dec, fps = V.decode_avi_rgb24(payload)
    assert fps == V.FPS
    assert dec.shape == frames.shape and dec.dtype == np.uint8
    assert (dec == frames).all()


def test_row_padding_widths():
    """Widths whose 3-byte rows aren't 4-byte aligned exercise the DIB
    stride padding on both sides of the codec."""
    for w in (5, 6, 7, 8):
        frames = (np.arange(2 * 4 * w * 3, dtype=np.uint8) % 251).reshape(
            2, 4, w, 3
        )
        dec, _ = V.decode_avi_rgb24(V.encode_avi_rgb24(frames, 10))
        assert (dec == frames).all(), f"w={w}"


def test_decoder_is_a_real_chunk_walker():
    """The reader must survive unknown chunks injected between the
    known ones (i.e. it walks the RIFF structure, it does not mirror
    the writer's byte offsets)."""
    frames = V.synth_frames("walker")
    payload = bytearray(V.encode_avi_rgb24(frames, V.FPS))
    # splice an unknown JUNK chunk right after the hdrl LIST ends:
    # find the movi LIST and insert before it
    movi_at = bytes(payload).find(b"LIST", 12)
    # first LIST is hdrl; find the movi one
    while bytes(payload)[movi_at + 8 : movi_at + 12] != b"movi":
        (sz,) = struct.unpack_from("<I", payload, movi_at + 4)
        movi_at = bytes(payload).find(b"LIST", movi_at + 8 + sz)
    junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
    spliced = bytes(payload[:movi_at]) + junk + bytes(payload[movi_at:])
    # fix the RIFF size
    spliced = (
        spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    )
    dec, _ = V.decode_avi_rgb24(spliced)
    assert (dec == frames).all()


def test_decode_rejects_garbage_and_compressed():
    with pytest.raises(ValueError):
        V.decode_avi_rgb24(b"not an avi")
    # an 8bpp strf must raise, not misdecode
    frames = V.synth_frames("bpp")
    payload = bytearray(V.encode_avi_rgb24(frames, V.FPS))
    at = bytes(payload).find(b"strf")
    # biBitCount lives at strf payload offset 14 (after size+w+h+planes)
    struct.pack_into("<H", payload, at + 8 + 14, 8)
    with pytest.raises(ValueError, match="unsupported stream"):
        V.decode_avi_rgb24(bytes(payload))
    # a COMPRESSED stream (bpp=24 but biCompression='MJPG') must raise
    # too — real codecs declare 24bpp with a fourcc here, and treating
    # their frames as raw BGR would emit garbage with decode_ok=True
    payload = bytearray(V.encode_avi_rgb24(frames, V.FPS))
    at = bytes(payload).find(b"strf")
    payload[at + 8 + 16 : at + 8 + 20] = b"MJPG"  # biCompression
    with pytest.raises(ValueError, match="unsupported stream"):
        V.decode_avi_rgb24(bytes(payload))


def _strip_chunk(payload: bytes, fourcc: bytes) -> bytes:
    """Remove the first ``fourcc`` chunk from the hdrl/strl header,
    shrinking the RIFF, hdrl and strl sizes that enclose it."""
    buf = bytearray(payload)
    at = buf.find(fourcc)
    (sz,) = struct.unpack_from("<I", buf, at + 4)
    cut = 8 + sz + (sz % 2)
    # RIFF size at 4; a LIST's size sits 4 bytes before its list type
    for size_at in (4, buf.find(b"hdrl") - 4, buf.find(b"strl") - 4):
        (n,) = struct.unpack_from("<I", buf, size_at)
        struct.pack_into("<I", buf, size_at, n - cut)
    del buf[at : at + cut]
    return bytes(buf)


def test_decode_rejects_missing_stream_header():
    """An AVI without a 'vids' strh has no frame rate: decoding must
    raise (the row lands as decode_ok=False), not assume a default fps
    that skews duration_ms."""
    import pandas as pd

    frames = V.synth_frames("nostrh")
    payload = V.encode_avi_rgb24(frames, 25)
    stripped = _strip_chunk(payload, b"strh")
    assert b"strh" not in stripped and b"strf" in stripped
    with pytest.raises(ValueError, match="strh"):
        V.decode_avi_rgb24(stripped)
    out = M.sample_video_frames_batch(pd.Series([stripped, payload]), 2)
    assert out[0] is None and out[1] is not None


def test_sample_frames_contract():
    frames = np.zeros((7, 2, 2, 3), dtype=np.uint8)
    for i in range(7):
        frames[i] = i
    s = V.sample_frames(frames, 3)
    assert [int(f[0, 0, 0]) for f in s] == [0, 3, 6]
    assert len(V.sample_frames(frames, 1)) == 7
    assert len(V.sample_frames(frames, 0)) == 7  # clamped


def test_features_exact_integers():
    frames = np.full((4, 2, 2, 3), 100, dtype=np.uint8)
    f = V.video_features(frames, 10, every_n=2)
    assert f == {
        "n_frames": 4, "w": 2, "h": 2, "fps": 10, "duration_ms": 400,
        "n_sampled": 2, "sampled_luma_milli": 100000,
    }


def test_spark_stage_matches_pure_python(spark):
    docs = spark.createDataFrame(
        [{"doc_id": i} for i in range(10)], "doc_id bigint"
    )
    got = {
        r["video_id"]: (r["n_frames"], r["n_sampled"],
                        r["sampled_luma_milli"], r["decode_ok"])
        for r in M.extract_video_features(
            M.synthesize_video(docs), every_n=2
        ).collect()
    }
    for i in range(10):
        video_id = f"vid{i}-0"
        frames = V.synth_frames(video_id)
        dec, fps = V.decode_avi_rgb24(V.encode_avi_rgb24(frames, V.FPS))
        f = V.video_features(dec, fps, 2)
        assert got[video_id] == (
            f["n_frames"], f["n_sampled"], f["sampled_luma_milli"], True
        )


def test_spark_stage_tolerates_corrupt_rows(spark):
    frames = V.synth_frames("okc")
    clips = spark.createDataFrame(
        [
            {"video_id": "ok", "bytes": V.encode_avi_rgb24(frames, 10),
             "w": None, "h": None, "n_frames": None, "fps": None, "caption": None},
            {"video_id": "bad", "bytes": b"RIFFjunk",
             "w": None, "h": None, "n_frames": None, "fps": None, "caption": None},
        ],
        M.VIDEO,
    )
    rows = {r["video_id"]: r for r in M.extract_video_features(clips).collect()}
    assert rows["ok"]["decode_ok"] is True
    assert rows["bad"]["decode_ok"] is False and rows["bad"]["n_frames"] is None


def test_sample_video_frames_batch_surface():
    import pandas as pd

    frames = V.synth_frames("batchy")
    out = M.sample_video_frames_batch(
        pd.Series([V.encode_avi_rgb24(frames, 10), b"junk"]), 2
    )
    assert (out[0] == V.sample_frames(frames, 2)).all()
    assert out[1] is None


def test_golden_fixture_regenerates_identically():
    import pyarrow.parquet as pq

    import tests.make_golden_video_features as G

    committed = pq.read_table(G.OUT)
    fresh = [G.feature_row(d) for d in range(40)]
    assert committed.to_pylist() == fresh
