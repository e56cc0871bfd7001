"""Adversarial-payload fuzz over every media decoder.

The round-6 advisory found a spec-legal JPEG shape that escaped the
out-of-profile filter and raised mid-decode. This suite generalizes the
lesson into a standing gate: for EVERY decoder, arbitrary bytes,
truncations, and bit-flipped valid payloads must return None (or a
well-formed dict) — never raise. The Spark stats kernels additionally
guard with _decode_or_none, but the decoders' own contract is
"None, not exceptions", and that is what keeps `decode_image`'s ladder
and any direct caller safe.

Deterministic RNG (no hypothesis flakiness): 300 mutations per decoder
per shape, seeds fixed.
"""

from __future__ import annotations

import numpy as np
import pytest

from vectordb_from_scratch_spark.operators import multimodal as mm

# (decoder, valid payload factory) — factories build small in-profile
# payloads so bit-flips hit live code paths, not just the magic check.
def _png():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    return mm.encode_png(px.tobytes(), 7, 9, 3)


def _jpeg_gray():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    return mm.encode_jpeg_gray(px.tobytes(), 24, 16)


def _jpeg_color():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    return mm.encode_jpeg(px.tobytes(), 16, 16, channels=3, sampling=(2, 2))


def _gif():
    rng = np.random.default_rng(4)
    idx = rng.integers(0, 4, size=63, dtype=np.uint8).tobytes()
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    return mm.encode_gif(idx, 9, 7, pal)


def _bmp():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    return mm.encode_bmp(px.tobytes(), 5, 6)


def _wav():
    rng = np.random.default_rng(6)
    samples = rng.integers(-3000, 3000, size=100).tolist()
    return mm.encode_wav(samples, sample_rate=8000, channels=2, bits=16)


def _wav_long():
    # mono, 200 frames: long enough for audio_fingerprint's 65 windows
    rng = np.random.default_rng(41)
    samples = rng.integers(-3000, 3000, size=200).tolist()
    return mm.encode_wav(samples, sample_rate=8000, channels=1, bits=16)


def _wav_ulaw():
    rng = np.random.default_rng(31)
    return mm.encode_wav_g711(
        [int(x) for x in rng.integers(0, 256, 120)], 8000, 2, law="ulaw"
    )


def _wav_alaw():
    rng = np.random.default_rng(37)
    return mm.encode_wav_g711(
        [int(x) for x in rng.integers(0, 256, 120)], 8000, 1, law="alaw"
    )


def _wav24():
    rng = np.random.default_rng(23)
    samples = rng.integers(-(1 << 23), 1 << 23, size=60).tolist()
    return mm.encode_wav(samples, sample_rate=44100, channels=2, bits=24)


def _wav_adpcm():
    rng = np.random.default_rng(29)
    blocks = [
        {
            "pred": [int(rng.integers(-32768, 32768)) for _ in range(2)],
            "idx": [int(rng.integers(0, 89)) for _ in range(2)],
            "nibbles": [
                [int(x) for x in rng.integers(0, 16, 24)] for _ in range(2)
            ],
        }
        for _ in range(2)
    ]
    return mm.encode_wav_ima_adpcm(blocks, 8000, 2)


def _avi():
    rng = np.random.default_rng(7)
    frames = [
        mm.encode_jpeg_gray(
            rng.integers(0, 256, size=(8, 8), dtype=np.uint8).tobytes(), 8, 8
        )
        for _ in range(2)
    ]
    return mm.encode_avi_mjpeg(frames, 8, 8)


def _avi_raw():
    rng = np.random.default_rng(13)
    frames = [rng.integers(0, 256, size=6 * 5 * 3, dtype=np.uint8).tobytes()
              for _ in range(2)]
    return mm.encode_avi_rawdib(frames, 5, 6)


def _png_interlaced():
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    return mm.encode_png(px.tobytes(), 7, 9, 3, interlace=True)


def _png16():
    rng = np.random.default_rng(12)
    v16 = rng.integers(0, 65536, size=(7, 5, 3), dtype=np.uint16)
    return mm.encode_png(v16.astype(">u2").tobytes(), 5, 7, 3, bit_depth=16)


def _jpeg_progressive():
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(15, 21), dtype=np.uint8)
    return mm.encode_jpeg_progressive(px.tobytes(), 21, 15, channels=1)


DECODERS = [
    ("png", mm.decode_png_pixels, _png),
    ("png_interlaced", mm.decode_png_pixels, _png_interlaced),
    ("png_16bit", mm.decode_png_pixels, _png16),
    ("jpeg_gray", mm.decode_jpeg_pixels, _jpeg_gray),
    ("jpeg_color", mm.decode_jpeg_pixels, _jpeg_color),
    ("jpeg_progressive", mm.decode_jpeg_progressive_pixels, _jpeg_progressive),
    ("jpeg_progressive_via_dispatch", mm.decode_jpeg_pixels, _jpeg_progressive),
    ("jpeg_coeffs", mm.decode_jpeg_coefficients, _jpeg_gray),
    ("gif", mm.decode_gif_pixels, _gif),
    ("bmp", mm.decode_bmp_pixels, _bmp),
    ("wav_header", mm.parse_wav_header, _wav),
    ("wav", mm.decode_wav_samples, _wav),
    ("wav_24bit", mm.decode_wav_samples, _wav24),
    ("wav_ima_adpcm", mm.decode_wav_samples, _wav_adpcm),
    ("wav_ulaw", mm.decode_wav_samples, _wav_ulaw),
    ("wav_alaw", mm.decode_wav_samples, _wav_alaw),
    ("avi", mm.decode_avi_frames, _avi),
    ("avi_rawdib", mm.decode_avi_frames, _avi_raw),
    ("header_meta", mm.parse_image_header, _png),
]


def _check(decoder, payload):
    out = decoder(bytes(payload))
    assert out is None or isinstance(out, dict)


@pytest.mark.parametrize("name,decoder,factory", DECODERS,
                         ids=[d[0] for d in DECODERS])
def test_decoder_never_raises(name, decoder, factory):
    valid = factory()
    # sanity: the unmutated payload decodes
    assert isinstance(decoder(valid), dict)
    rng = np.random.default_rng(97)
    arr = np.frombuffer(valid, dtype=np.uint8).copy()
    # 1) random garbage of assorted lengths (keeps magic bytes sometimes)
    for n in (0, 1, 3, 8, 64, 1024):
        _check(decoder, rng.integers(0, 256, size=n, dtype=np.uint8).tobytes())
        _check(decoder, valid[:8] + rng.integers(0, 256, size=n, dtype=np.uint8).tobytes())
    # 2) truncations at every 7th byte
    for cut in range(0, len(valid), max(1, len(valid) // 40)):
        _check(decoder, valid[:cut])
    # 3) single-byte corruption, 300 draws across the whole payload
    for _ in range(300):
        i = int(rng.integers(0, len(arr)))
        mut = arr.copy()
        mut[i] = int(rng.integers(0, 256))
        _check(decoder, mut.tobytes())
    # 4) multi-byte corruption bursts
    for _ in range(60):
        i = int(rng.integers(0, max(1, len(arr) - 16)))
        mut = arr.copy()
        mut[i : i + 16] = rng.integers(0, 256, size=min(16, len(arr) - i), dtype=np.uint8)
        _check(decoder, mut.tobytes())


def test_media_resize_stats_dispatch_and_malformed(spark):
    """media_resize_stats (VERDICT r8 #7): magic-byte dispatch routes a
    MIXED corpus to the right decoder per row; garbage, truncated, and
    bit-flipped payloads drop their row — never the task; output width/
    height are always the target grid."""
    rng = np.random.default_rng(11)
    valid = {"png": _png(), "gif": _gif(), "bmp": _bmp()}
    rows = [(0, valid["png"]), (1, valid["gif"]), (2, valid["bmp"])]
    # jpeg goes through the same dispatcher (lossy, so not in the
    # oracle query — but the plumbing must route it)
    rows.append((3, _jpeg_color()))
    # video goes through the same dispatcher (VERDICT r9 #4): RIFF+AVI
    # magic → per-frame decode → resize → stats POOLED across frames
    avi = _avi()  # 2 grayscale 8×8 frames
    rows.append((4, avi))
    # malformed family: garbage, magic-only, truncation, bit flip
    rows.append((10, rng.integers(0, 256, size=128, dtype=np.uint8).tobytes()))
    rows.append((11, valid["png"][:8]))
    rows.append((12, valid["gif"][: len(valid["gif"]) // 2]))
    flip = bytearray(valid["bmp"])
    flip[20] ^= 0xFF  # corrupt the header geometry
    rows.append((13, bytes(flip)))
    rows.append((14, avi[:16]))        # truncated RIFF-AVI header
    rows.append((15, _wav()))          # RIFF but WAVE, not AVI — no pixels
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.media_resize_stats(df, out_w=4, out_h=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fmt"])
        assert (r["width"], r["height"]) == (4, 3)
        # images: one grid of pixels; video: grid × n_frames (pooled)
        assert r["n_pixels"] == (24 if r["fmt"] == "avi" else 12)
    assert by_doc[0] == {"png"} and by_doc[1] == {"gif"} and by_doc[2] == {"bmp"}
    assert by_doc.get(3, set()) <= {"jpeg"}
    assert by_doc[4] == {"avi"}
    for bad in (10, 11, 12, 14, 15):
        assert bad not in by_doc
    # the bit-flipped BMP either decodes (harmless flip) or drops —
    # but must never surface under another format
    assert by_doc.get(13, set()) <= {"bmp"}


# every Arrow-batched stats stage; each factory returns a payload its
# stage decodes. (stage builder, factory, id-bearing output columns)
_ID_COL_STAGES = [
    ("png_pixel_stats", lambda df: mm.png_pixel_stats(df, id_col="img_id"), _png),
    ("jpeg_pixel_stats", lambda df: mm.jpeg_pixel_stats(df, id_col="img_id"), _jpeg_gray),
    ("gif_pixel_stats", lambda df: mm.gif_pixel_stats(df, id_col="img_id"), _gif),
    ("bmp_pixel_stats", lambda df: mm.bmp_pixel_stats(df, id_col="img_id"), _bmp),
    ("bmp_resize_stats",
     lambda df: mm.bmp_resize_stats(df, out_w=2, out_h=2, id_col="img_id"), _bmp),
    ("media_resize_stats",
     lambda df: mm.media_resize_stats(df, out_w=2, out_h=2, id_col="img_id"), _png),
    ("avi_frame_stats", lambda df: mm.avi_frame_stats(df, id_col="img_id"), _avi),
    ("wav_audio_stats", lambda df: mm.wav_audio_stats(df, id_col="img_id"), _wav),
    ("wav_zcr_stats", lambda df: mm.wav_zcr_stats(df, id_col="img_id"), _wav),
    ("wav_resample_stats",
     lambda df: mm.wav_resample_stats(df, id_col="img_id"), _wav),
    ("wav_vad_segments",
     lambda df: mm.wav_vad_segments(df, frame_len=10, id_col="img_id"), _wav),
    ("image_dhash", lambda df: mm.image_dhash(df, id_col="img_id"), _png),
    ("audio_fingerprint",
     lambda df: mm.audio_fingerprint(df, id_col="img_id"), _wav_long),
    ("payload_features", lambda df: mm.payload_features(df, id_col="img_id"), _png),
    ("decode_metadata",
     lambda df: mm.decode_metadata(df, id_col="img_id", decoder="header"), _png),
    ("sample_frames", lambda df: mm.sample_frames(df, id_col="img_id"), _png),
]


@pytest.mark.parametrize("name,stage,factory", _ID_COL_STAGES,
                         ids=[s[0] for s in _ID_COL_STAGES])
def test_stats_stages_honor_renamed_id_col(spark, name, stage, factory):
    """Every mapInPandas stats stage must carry a NON-default id column
    name end-to-end (VERDICT r9 #5): the Arrow assignment is name-based,
    so a stage that hardcodes 'doc_id' against a caller's renamed id
    would either mislabel or fail. The output id column must be named
    id_col and hold the input ids."""
    df = spark.createDataFrame(
        [(77, factory()), (78, factory())], "img_id long, payload binary"
    )
    out = stage(df)
    assert "img_id" in out.columns and "doc_id" not in out.columns
    rows = out.collect()
    assert rows, f"{name}: no output rows for a valid payload"
    assert {r["img_id"] for r in rows} == {77, 78}


# stages that never decode: they keep a row for every payload, garbage
# included (decode_metadata with a NULL media struct)
_KEEPS_EVERY_ROW = {"payload_features", "decode_metadata", "sample_frames"}


@pytest.mark.parametrize("name,stage,factory", _ID_COL_STAGES,
                         ids=[s[0] for s in _ID_COL_STAGES])
def test_stage_drops_only_undecodable_rows(spark, name, stage, factory):
    """A payload its decoder rejects drops its own row and nothing else:
    next to a valid payload, random garbage, a truncated copy of the
    valid one and a NULL payload produce no rows, and the task does not
    fail. The stages that keep every row keep the NULL one with NULL
    outputs."""
    valid = factory()
    garbage = np.random.default_rng(101).integers(
        0, 256, size=len(valid), dtype=np.uint8
    ).tobytes()
    df = spark.createDataFrame(
        [(1, valid), (2, garbage), (3, valid[: len(valid) // 2]), (4, None)],
        "img_id long, payload binary",
    )
    rows = stage(df).collect()
    expected = {1, 2, 3, 4} if name in _KEEPS_EVERY_ROW else {1}
    assert {r["img_id"] for r in rows} == expected
    if name in _KEEPS_EVERY_ROW:
        assert [r for r in rows if r["img_id"] == 4] == [
            tuple([4] + [None] * (len(rows[0]) - 1))]
    if name == "decode_metadata":
        assert {r["img_id"] for r in rows if r["media"] is None} == {2, 4}
