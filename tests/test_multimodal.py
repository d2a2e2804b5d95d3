"""Multimodal plumbing tests: binary payloads, metadata, mapInPandas."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from aws_weather_data_pipeline_spark.functions.multimodal import (
    decode_media,
    extract_features,
    with_binary_payload,
    FEATURE_SCHEMA,
)


def test_decode_media_unknown_type_still_raises():
    # MP3/video codecs remain unimplemented in this container — the
    # extension contract (raise, don't guess) is unchanged. JPEG now
    # HAS a decoder: a truncated payload must fail loudly as malformed
    # input (ValueError), never NotImplementedError — full malformed-
    # input coverage lives in test_jpeg_decoder_rejects_malformed_input.
    with pytest.raises(NotImplementedError, match="no decoder"):
        decode_media(b"\xff\xfb", "audio/mpeg")
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8", "image/jpeg")
    with pytest.raises(NotImplementedError, match="no decoder"):
        decode_media(b"\x00\x00\x00\x18ftyp", "video/mp4")


def test_decode_media_parses_binary_ppm():
    # Spec-compliant header: comments and arbitrary whitespace between
    # tokens; 2x2 RGB raster of known bytes.
    raster = bytes(range(12))
    ppm = b"P6\n# a comment\n2 2\n# another\n255\n" + raster
    img = decode_media(ppm, "image/x-portable-pixmap")
    assert (img["width"], img["height"], img["maxval"]) == (2, 2, 255)
    assert img["pixels"] == raster


def test_decode_media_rejects_malformed_ppm():
    with pytest.raises(ValueError, match="not a P6"):
        decode_media(b"P3\n1 1\n255\n000", "image/x-portable-pixmap")
    with pytest.raises(ValueError, match="truncated"):
        decode_media(b"P6\n2 2\n255\nxx", "image/x-portable-pixmap")
    with pytest.raises(ValueError, match="maxval"):
        decode_media(b"P6\n1 1\n65535\n" + b"\0" * 6,
                     "image/x-portable-pixmap")


def test_decode_ppm_roundtrip_property():
    """Property: any spec-compliant P6 file (arbitrary dims, maxval,
    comment/whitespace layout, raster bytes) decodes back to exactly
    the fields it was built from. No Spark — pure decoder fuzz.
    """
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        decode_media,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        maxval=st.integers(1, 255),
        data=st.data(),
        comment=st.booleans(),
        ws=st.sampled_from([b" ", b"\n", b"\t", b"\r\n"]),
    )
    def check(w, h, maxval, data, comment, ws):
        raster = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * 3,
                    max_size=w * h * 3,
                )
            )
        )
        header = b"P6" + ws
        if comment:
            header += b"# fuzz comment\n"
        header += (
            str(w).encode() + ws + str(h).encode() + ws
            + str(maxval).encode() + b"\n"
        )
        img = decode_media(header + raster, "image/x-portable-pixmap")
        assert (img["width"], img["height"], img["maxval"]) == (
            w, h, maxval,
        )
        assert img["pixels"] == raster

    check()


def test_png_roundtrip_exercises_every_filter_type():
    """encode_png assigns filter type row%5, so any image with >=5 rows
    round-trips through all of None/Sub/Up/Average/Paeth."""
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_png,
    )

    raster = bytes((i * 37 + 11) % 256 for i in range(4 * 6 * 3))
    png = encode_png(raster, 4, 6)
    img = decode_media(png, "image/png")
    assert (img["width"], img["height"], img["maxval"]) == (4, 6, 255)
    assert img["pixels"] == raster


def test_png_roundtrip_property():
    """Property: any RGB raster at any dims survives the full
    deflate→filter→inflate→unfilter round-trip byte-exactly. Pure
    codec fuzz, no Spark."""
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_png,
    )

    @settings(max_examples=200, deadline=None)
    @given(w=st.integers(1, 16), h=st.integers(1, 16), data=st.data())
    def check(w, h, data):
        raster = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * 3,
                    max_size=w * h * 3,
                )
            )
        )
        img = decode_media(encode_png(raster, w, h), "image/png")
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == raster

    check()


def test_png_decoder_rejects_malformed_input():
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_png,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_media(b"GIF89a", "image/png")
    good = encode_png(b"abcdefghi" * 2, 3, 2)
    # flip a raster byte inside IDAT → CRC must catch it
    corrupt = bytearray(good)
    corrupt[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch|truncated"):
        decode_media(bytes(corrupt), "image/png")
    # truncated file
    with pytest.raises(ValueError, match="truncated"):
        decode_media(good[:-8], "image/png")
    # unsupported color type (grayscale IHDR): rebuild chunk with
    # valid CRC so the type check, not the CRC, rejects it
    import struct
    import zlib as _zlib

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="only 8-bit"):
        decode_media(bad, "image/png")


def test_png_payload_decodes_end_to_end(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        PPM_SCHEMA,
        decode_image_features,
        with_png_payload,
    )

    # Same dims rule as PPM: doc_id=9 → 2x5 → 30 raster bytes.
    df = spark.createDataFrame([Row(doc_id=9, text="abcd")])
    feats = decode_image_features(with_png_payload(df))
    assert feats.schema == PPM_SCHEMA
    r = feats.first()
    assert (r["width"], r["height"], r["maxval"]) == (2, 5, 255)
    assert r["n_pixel_bytes"] == 30
    expected = sum(b"abcd" + b"x" * 26)
    assert r["pixel_byte_sum"] == expected
    assert r["mean_pixel_value"] == expected / 30


def test_ppm_payload_decodes_end_to_end(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        PPM_SCHEMA,
        decode_image_features,
        with_ppm_payload,
    )

    # doc_id=9: width 1+9%8=2, height 1+9%5=5 → raster 30 bytes; text
    # is 4 chars so rpad fills 26 'x' bytes.
    df = spark.createDataFrame([Row(doc_id=9, text="abcd")])
    feats = decode_image_features(with_ppm_payload(df))
    assert feats.schema == PPM_SCHEMA
    r = feats.first()
    assert (r["width"], r["height"], r["maxval"]) == (2, 5, 255)
    assert r["n_pixel_bytes"] == 30
    expected = sum(b"abcd" + b"x" * 26)
    assert r["pixel_byte_sum"] == expected
    assert r["mean_pixel_value"] == expected / 30


def test_payload_and_features_roundtrip(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="abc"), Row(doc_id=2, text="zz")]
    )
    payloads = with_binary_payload(df)
    meta = {r["doc_id"]: r["payload_meta"] for r in payloads.collect()}
    assert meta[1]["n_bytes"] == 3
    assert meta[1]["content_type"] == "text/plain"

    feats = extract_features(payloads)
    assert feats.schema == FEATURE_SCHEMA
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == 3
    assert rows[1]["first_byte"] == ord("a")
    assert rows[1]["last_byte"] == ord("c")
    assert rows[1]["byte_sum_mod"] == (ord("a") + ord("b") + ord("c")) % 997
    assert rows[2]["first_byte"] == ord("z")


def test_resize_downsamples_and_updates_metadata(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        resize_payload,
    )

    long = "ab" * 300   # 600 bytes → step ceil(600/128)=5 → 120 bytes
    short = "tiny"      # under target → untouched
    df = spark.createDataFrame(
        [Row(doc_id=1, text=long), Row(doc_id=2, text=short)]
    )
    out = {
        r["doc_id"]: r
        for r in resize_payload(with_binary_payload(df)).collect()
    }
    assert out[1]["orig_bytes"] == 600
    assert len(out[1]["payload"]) == 120
    assert out[1]["payload_meta"]["n_bytes"] == 120
    assert out[1]["payload_meta"]["content_type"] == "application/x-thumb"
    # deterministic: every 5th byte of "abab..." is always 'a'
    assert bytes(out[1]["payload"]) == bytes(("ab" * 300).encode()[::5])
    assert bytes(out[2]["payload"]) == b"tiny"


def test_null_payload_has_null_features():
    """with_binary_payload turns NULL text into a NULL payload; the
    feature stage must emit NULL features for it, not crash."""
    import pandas as pd

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        fake_byte_features,
    )

    batch = pd.DataFrame({"doc_id": [1, 2, 3], "payload": [b"ab", None, b""]})
    (out,) = list(fake_byte_features(iter([batch])))
    feats = ["n_bytes", "first_byte", "last_byte", "byte_sum_mod"]
    assert out.loc[0, feats].tolist() == [2, ord("a"), ord("b"), 195]
    assert out.loc[1, feats].isna().all()
    assert out.loc[2, "n_bytes"] == 0
    assert out.loc[2, feats[1:]].isna().all()


def test_resize_keeps_a_null_payload_null(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        resize_payload,
    )

    df = spark.createDataFrame(
        [(1, "tiny"), (2, None)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in resize_payload(with_binary_payload(df)).collect()
    }
    assert bytes(out[1]["payload"]) == b"tiny"
    assert out[1]["orig_bytes"] == 4
    assert out[2]["payload"] is None
    assert out[2]["orig_bytes"] is None
    assert out[2]["payload_meta"]["n_bytes"] is None


def _silent_wavs(spark):
    """Two zero-sample WAV payloads (mono and stereo) with metadata."""
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        _with_meta,
        encode_wav,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, payload=bytearray(encode_wav([], 8000, 1))),
            Row(doc_id=2, payload=bytearray(encode_wav([], 9000, 2))),
        ]
    )
    return _with_meta(df, "audio/wav")


def test_decode_stage_with_no_rows_returns_the_declared_schema(spark):
    """A batch where every payload yields zero rows (zero-frame WAVs
    have no windows) is an empty frame, not a schema error."""
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        WAV_WINDOW_SCHEMA,
        wav_window_energy,
    )

    windows = wav_window_energy(_silent_wavs(spark))
    assert windows.schema == WAV_WINDOW_SCHEMA
    assert windows.collect() == []


def test_zero_sample_wav_has_null_peak_and_mean(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        WAV_SCHEMA,
        decode_wav_features,
    )

    feats = decode_wav_features(_silent_wavs(spark))
    assert feats.schema == WAV_SCHEMA
    assert sorted(tuple(r) for r in feats.collect()) == [
        (1, 1, 8000, 0, 0, None, None),
        (2, 2, 9000, 0, 0, None, None),
    ]


def test_wav_roundtrip_property():
    """Property: any int16 sample train at any channel/rate layout
    survives the RIFF encode→decode round-trip exactly."""
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_wav,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        n_channels=st.integers(1, 4),
        n_frames=st.integers(1, 64),
        rate=st.sampled_from([8000, 16000, 44100]),
        data=st.data(),
    )
    def check(n_channels, n_frames, rate, data):
        samples = data.draw(
            st.lists(
                st.integers(-32768, 32767),
                min_size=n_channels * n_frames,
                max_size=n_channels * n_frames,
            )
        )
        out = decode_media(
            encode_wav(samples, rate, n_channels), "audio/wav"
        )
        assert out["n_channels"] == n_channels
        assert out["sample_rate"] == rate
        # samples decode to an int16 ndarray (vectorized stats path)
        assert out["samples"].tolist() == samples

    check()


def test_wav_decoder_rejects_malformed_input():
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_wav,
    )

    with pytest.raises(ValueError, match="not a RIFF"):
        decode_media(b"OggS" + b"\0" * 40, "audio/wav")
    good = encode_wav([1, 2, 3, 4], 8000, 2)
    with pytest.raises(ValueError, match="truncated"):
        decode_media(good[:-3], "audio/wav")
    # 8-bit PCM (bits=8 in fmt) must be refused, not misparsed
    import struct

    bad_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + bad_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="only 16-bit"):
        decode_media(bad, "audio/wav")


def test_wav_payload_decodes_end_to_end(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        WAV_SCHEMA,
        decode_wav_features,
        with_wav_payload,
    )

    # doc_id=9: 2 channels, rate 8000, 19 frames → 38 samples; text
    # "abcd" padded with 'x' to 38 bytes, sample = byte*37 - 6000.
    df = spark.createDataFrame([Row(doc_id=9, text="abcd")])
    feats = decode_wav_features(with_wav_payload(df))
    assert feats.schema == WAV_SCHEMA
    r = feats.first()
    assert (r["n_channels"], r["sample_rate"], r["n_frames"]) == (
        2, 8000, 19,
    )
    raw = b"abcd" + b"x" * 34
    samples = [c * 37 - 6000 for c in raw]
    assert r["sample_sum"] == sum(samples)
    assert r["peak_amplitude"] == max(abs(s) for s in samples)
    assert r["mean_amplitude"] == sum(samples) / 38


def test_lzw_roundtrip_property():
    """Property: any byte stream survives the GIF-variant LZW
    compress→decompress round-trip exactly, across code-width growth
    (mcs+1..12 bits), 4096-entry clear-resets, and the KwKwK
    self-reference case. Pure codec fuzz, no Spark."""
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        mcs=st.sampled_from([2, 4, 8]),
        data=st.data(),
    )
    def check(mcs, data):
        alphabet = data.draw(st.integers(1, 1 << mcs))
        n = data.draw(st.integers(0, 4000))
        stream = bytes(
            data.draw(
                st.lists(
                    st.integers(0, alphabet - 1),
                    min_size=n,
                    max_size=n,
                )
            )
        )
        assert _lzw_decode(_lzw_encode(stream, mcs), mcs) == stream

    check()
    # Deterministic high-entropy stream: verified by instrumenting
    # the encoder's dictionary — this exact stream reaches the full
    # 12-bit code width and fires the 4096-entry clear-reset 15
    # times. (A low-entropy periodic stream does NOT get there: its
    # phrases lengthen so the dictionary only reaches ~1.2k entries
    # over 60k symbols — review r06 caught that gap.) The hypothesis
    # cases above cap at 4000 symbols and cannot reach the reset
    # either, so this is the codec's only reset-path coverage.
    import random as _random

    rng = _random.Random(12345)
    big = bytes(rng.randrange(256) for _ in range(60000))
    assert _lzw_decode(_lzw_encode(big, 8), 8) == big
    # Tail-boundary regression (hypothesis-found r06): when the FINAL
    # data code lands exactly on the width boundary, the decoder's
    # lagged table add bumps its width before reading EOI; the
    # encoder must mirror that bump or the EOI is written one bit
    # narrow ("LZW stream ended without EOI"). This stream's last
    # code hits the 7-bit boundary at mcs=2.
    rng = _random.Random(99)
    for _ in range(200):
        tricky = bytes(rng.randrange(2) for _ in range(514))
        assert _lzw_decode(_lzw_encode(tricky, 2), 2) == tricky


def test_gif_roundtrip_multiframe():
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_gif,
    )

    frames = [
        bytes((i * 31 + f) % 256 for i in range(5 * 4))
        for f in range(3)
    ]
    out = decode_media(encode_gif(frames, 5, 4), "image/gif")
    assert (out["width"], out["height"]) == (5, 4)
    assert [f["indices"] for f in out["frames"]] == frames
    # the fixture encoder writes full-frame descriptors; each decoded
    # frame carries its OWN geometry (sub-rectangle delta frames in
    # real GIFs differ from the logical screen — review r06)
    assert all(
        (f["x"], f["y"], f["w"], f["h"]) == (0, 0, 5, 4)
        for f in out["frames"]
    )


def test_gif_decoder_rejects_malformed_input():
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_gif,
    )

    with pytest.raises(ValueError, match="not a GIF"):
        decode_media(b"\x89PNG\r\n\x1a\n", "image/gif")
    good = encode_gif([bytes(range(12))], 4, 3)
    with pytest.raises(
        ValueError, match="terminator|truncated|EOI|trailer"
    ):
        decode_media(good[:-3], "image/gif")
    # a cut exactly at a block boundary (trailer byte removed) must
    # ALSO fail loudly — it used to return a silently truncated
    # animation (review r06)
    with pytest.raises(ValueError, match="trailer"):
        decode_media(good[:-1], "image/gif")
    # interlace flag on the image descriptor must be refused
    bad = bytearray(good)
    # image descriptor starts after 6 (header) + 7 (LSD) + 768 (GCT)
    # + 8 (GCE); its packed byte is at offset +9
    idesc = 6 + 7 + 768 + 8
    assert bad[idesc] == 0x2C
    bad[idesc + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        decode_media(bytes(bad), "image/gif")


def test_gif_payload_decodes_end_to_end(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        GIF_FRAME_SCHEMA,
        decode_gif_frames,
        with_gif_payload,
    )

    # doc_id=7: w=1+7%6=2, h=1+7%4=4, frames=2+7%3=3 → 8 px/frame,
    # raw = "abcdefgh" + 'x'*16, frame f = raw[f*8:(f+1)*8]
    df = spark.createDataFrame([Row(doc_id=7, text="abcdefgh")])
    feats = decode_gif_frames(with_gif_payload(df))
    assert feats.schema == GIF_FRAME_SCHEMA
    rows = {r["frame_idx"]: r for r in feats.collect()}
    assert set(rows) == {0, 1, 2}
    raw = b"abcdefgh" + b"x" * 16
    for f in range(3):
        fr = raw[f * 8 : (f + 1) * 8]
        assert rows[f]["n_indices"] == 8
        assert rows[f]["index_sum"] == sum(fr)
        assert rows[f]["index_max"] == max(fr)
        assert (rows[f]["width"], rows[f]["height"]) == (2, 4)


def test_jpeg_constant_blocks_roundtrip_exactly():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    # every 8x8 block constant + all-ones quant table => the DC
    # coefficient 8*(v-128) is an exact integer and every AC is 0, so
    # the lossy-in-general pipeline is bit-exact — the property the
    # oracle-checked catalog query relies on
    rng = np.random.default_rng(11)
    for wb, hb in [(1, 1), (3, 2), (2, 1)]:
        vals = rng.integers(0, 256, (hb, wb), dtype=np.uint8)
        raster = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        out = decode_media(
            encode_jpeg(raster.tobytes(), wb * 8, hb * 8), "image/jpeg"
        )
        assert (out["width"], out["height"]) == (wb * 8, hb * 8)
        assert out["maxval"] == 255
        assert out["pixels"] == raster.tobytes()


def test_jpeg_lossy_error_bound_grayscale():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    # arbitrary rasters (incl. non-multiple-of-8 dims -> edge
    # replication padding + crop): with all-ones quantization the only
    # loss is coefficient rounding (<=0.5/coef), bounding per-pixel
    # error; empirically |err| <= 1, assert the analytic-safe <= 4
    rng = np.random.default_rng(12)
    for w, h in [(8, 8), (13, 19), (24, 9)]:
        raster = rng.integers(0, 256, (h, w), dtype=np.uint8)
        out = decode_media(
            encode_jpeg(raster.tobytes(), w, h), "image/jpeg"
        )
        dec = np.frombuffer(out["pixels"], np.uint8).reshape(h, w)
        assert np.abs(dec.astype(int) - raster.astype(int)).max() <= 4


def test_jpeg_color_444_roundtrip_bounded():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    # 3-component 4:4:4: RGB -> YCbCr (rounded) -> DCT -> ... -> RGB;
    # rounding both ways + coefficient rounding stays within a few
    # levels per channel
    rng = np.random.default_rng(13)
    rgb = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    out = decode_media(
        encode_jpeg(rgb.tobytes(), 24, 16, n_components=3), "image/jpeg"
    )
    assert len(out["pixels"]) == 24 * 16 * 3
    dec = np.frombuffer(out["pixels"], np.uint8).reshape(16, 24, 3)
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 6


def test_jpeg_restart_markers_decode_identically():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(14)
    raster = rng.integers(0, 256, (16, 32), dtype=np.uint8)
    plain = decode_media(
        encode_jpeg(raster.tobytes(), 32, 16), "image/jpeg"
    )
    restarted = decode_media(
        encode_jpeg(raster.tobytes(), 32, 16, restart_interval=3),
        "image/jpeg",
    )
    assert plain["pixels"] == restarted["pixels"]


def test_jpeg_decoder_rejects_malformed_input():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_media(b"\x89PNG\r\n\x1a\n", "image/jpeg")
    raster = np.full((8, 8), 100, dtype=np.uint8)
    good = encode_jpeg(raster.tobytes(), 8, 8)
    with pytest.raises(ValueError, match="truncated|marker|SOF|SOS"):
        decode_media(good[:40], "image/jpeg")
    # progressive SOF2 must be refused, not mis-decoded
    bad = bytearray(good)
    sof = bad.find(b"\xff\xc0")
    bad[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF0|baseline"):
        decode_media(bytes(bad), "image/jpeg")


def test_jpeg_payload_decodes_end_to_end(spark):
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        PPM_SCHEMA,
        decode_image_features,
        with_jpeg_payload,
    )

    # doc_id=5: wb=1+5%3=3, hb=1+5%2=2 -> 6 blocks of "abcdef"
    df = spark.createDataFrame([Row(doc_id=5, text="abcdef")])
    feats = decode_image_features(with_jpeg_payload(df))
    assert feats.schema == PPM_SCHEMA
    row = feats.collect()[0]
    assert (row["width"], row["height"]) == (24, 16)
    assert row["n_pixel_bytes"] == 6 * 64
    assert row["pixel_byte_sum"] == 64 * sum(b"abcdef")


def test_jpeg_fill_bytes_before_markers_are_legal():
    # T.81 B.1.1.2: any run of 0xFF bytes may pad the space before a
    # marker code (ADVICE r07). Inject fill bytes before several
    # header markers; the decode must be byte-identical.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    raster = rng.integers(0, 256, size=16 * 8, dtype=np.uint8).tobytes()
    b = encode_jpeg(raster, 16, 8)
    ref = decode_media(b, "image/jpeg")

    padded = bytearray()
    pos = 0
    n_injected = 0
    while pos < len(b) - 1:
        if b[pos] == 0xFF and b[pos + 1] in (0xDB, 0xC0, 0xC4, 0xDA):
            padded += b"\xff" * (2 + n_injected)  # growing fill runs
            n_injected += 1
        padded.append(b[pos])
        pos += 1
        if b[pos - 1] == 0xFF and b[pos] == 0xDA:
            break  # don't touch entropy-coded data
    padded += b[pos:]
    assert n_injected >= 3
    out = decode_media(bytes(padded), "image/jpeg")
    assert out == ref


def test_jpeg_sos_components_matched_to_sof_by_id():
    # ADVICE r07: component pairing must go through the component ID,
    # not list position. Swap the first two SOF component entries
    # (ids 1 and 2) of an encoder-produced color file — the entropy
    # data and SOS order are untouched, so an id-matching decoder
    # returns the identical image while position pairing scrambles
    # the Y/Cb roles.
    import struct

    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    raster = rng.integers(
        0, 256, size=8 * 8 * 3, dtype=np.uint8
    ).tobytes()
    b = encode_jpeg(raster, 8, 8, n_components=3)
    ref = decode_media(b, "image/jpeg")

    # locate SOF0 and swap component entries 0 and 1 (3 bytes each,
    # after 2 marker + 2 length + 6 fixed header bytes).
    i = b.index(b"\xff\xc0")
    comp0 = b[i + 10 : i + 13]
    comp1 = b[i + 13 : i + 16]
    assert comp0[0] == 1 and comp1[0] == 2
    swapped = b[: i + 10] + comp1 + comp0 + b[i + 16 :]
    out = decode_media(swapped, "image/jpeg")
    assert out == ref


def test_jpeg_standalone_markers_in_header_are_skipped():
    # TEM (0xFF01) carries no length segment (T.81 B.1.1.3); a walker
    # that reads two length bytes after it swallows arbitrary header
    # bytes. Inject TEM between header segments; decode must be
    # byte-identical.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(3)
    raster = rng.integers(0, 256, size=8 * 8, dtype=np.uint8).tobytes()
    b = encode_jpeg(raster, 8, 8)
    ref = decode_media(b, "image/jpeg")
    i = b.index(b"\xff\xc0")  # before SOF0
    patched = b[:i] + b"\xff\x01" + b[i:]
    assert decode_media(patched, "image/jpeg") == ref


def test_jpeg_fill_bytes_before_restart_markers():
    # Fill bytes are also legal before RSTn codes inside entropy data
    # (same T.81 B.1.1.2 rule as the header walk). Inject a fill byte
    # before every RST marker of a restart-interval file; decode must
    # be byte-identical.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(5)
    raster = rng.integers(
        0, 256, size=24 * 8, dtype=np.uint8
    ).tobytes()
    b = encode_jpeg(raster, 24, 8, restart_interval=1)
    ref = decode_media(b, "image/jpeg")
    out = bytearray()
    i = 0
    n = 0
    while i < len(b):
        if (
            b[i] == 0xFF
            and i + 1 < len(b)
            and 0xD0 <= b[i + 1] <= 0xD7
        ):
            out += b"\xff"  # fill byte before the RST marker
            n += 1
        out.append(b[i])
        i += 1
    assert n >= 2
    assert decode_media(bytes(out), "image/jpeg") == ref


def test_jpeg_420_constant_mcu_tiles_roundtrip_exactly():
    # 4:2:0: the MCU is a 16x16 tile (4 Y blocks + Cb + Cr). When
    # every 16x16 tile is a constant color, the 2x2 chroma box
    # average is exact, every DC is an exact integer, every AC is 0 —
    # so even the subsampled pipeline round-trips bit-exactly.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(21)
    for tw, th in [(1, 1), (3, 2)]:
        tiles = rng.integers(0, 256, (th, tw, 3), dtype=np.uint8)
        rgb = np.repeat(np.repeat(tiles, 16, 0), 16, 1)
        w, h = tw * 16, th * 16
        out = decode_media(
            encode_jpeg(
                rgb.tobytes(), w, h, n_components=3, subsampling="420"
            ),
            "image/jpeg",
        )
        assert (out["width"], out["height"]) == (w, h)
        dec = np.frombuffer(out["pixels"], np.uint8).reshape(h, w, 3)
        # YCbCr->RGB is float round-trip; constant tiles land within
        # one count of the original after the double conversion
        assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 1


def test_jpeg_420_and_422_bounded_error_on_neutral_chroma():
    # r=g=b pixels have constant chroma (Cb=Cr=128), so subsampling
    # loses nothing and the error bound matches the 4:4:4 one — this
    # isolates the interleaved-MCU block order and upsample path from
    # genuine chroma loss. Odd dims exercise component-dim cropping.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(22)
    for mode, (w, h) in [("420", (24, 16)), ("420", (19, 13)),
                         ("422", (21, 10))]:
        gray = rng.integers(0, 256, (h, w, 1), dtype=np.uint8)
        rgb = np.repeat(gray, 3, axis=2)
        out = decode_media(
            encode_jpeg(
                rgb.tobytes(), w, h, n_components=3, subsampling=mode
            ),
            "image/jpeg",
        )
        dec = np.frombuffer(out["pixels"], np.uint8).reshape(h, w, 3)
        assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 4


def test_jpeg_420_restart_markers_decode_identically():
    # restart intervals count MCUs — under 4:2:0 an MCU is 6 blocks,
    # and the predictor reset must happen on MCU boundaries, not
    # block boundaries
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(23)
    tiles = rng.integers(0, 256, (2, 4, 3), dtype=np.uint8)
    rgb = np.repeat(np.repeat(tiles, 16, 0), 16, 1)
    plain = decode_media(
        encode_jpeg(rgb.tobytes(), 64, 32, n_components=3,
                    subsampling="420"),
        "image/jpeg",
    )
    with_rst = decode_media(
        encode_jpeg(rgb.tobytes(), 64, 32, n_components=3,
                    subsampling="420", restart_interval=3),
        "image/jpeg",
    )
    assert with_rst == plain


def test_jpeg_grayscale_single_scan_ignores_declared_factors():
    # T.81 A.2.2: a single-component scan is non-interleaved — the
    # data-unit grid is ceil(w/8) x ceil(h/8) regardless of the SOF
    # sampling factors (some encoders write 2x2 on grayscale). Patch
    # the SOF samp byte of an encoder-produced grayscale file from
    # 0x11 to 0x22: the entropy data is unchanged, so the decode must
    # be identical.
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_jpeg,
    )

    rng = np.random.default_rng(24)
    raster = rng.integers(0, 256, size=24 * 16, dtype=np.uint8).tobytes()
    b = encode_jpeg(raster, 24, 16)
    ref = decode_media(b, "image/jpeg")
    idx = b.index(b"\xff\xc0")
    samp_at = idx + 2 + 2 + 6 + 1  # marker, len, prec/h/w/ncomp, cid
    assert b[samp_at] == 0x11
    patched = bytearray(b)
    patched[samp_at] = 0x22
    assert decode_media(bytes(patched), "image/jpeg") == ref


def test_decode_media_malformed_input_contract_under_fuzz():
    """The quarantine guard's whole contract is that a corrupt payload
    raises ValueError from decode_media — truncations and bit flips
    escaped as struct.error/zlib.error/IndexError/OverflowError before
    r09 normalized the codec surface (ADVICE r08), so one bad image
    would kill a 100 TB scan despite the dead-letter stage. Fuzz every
    codec: each mutation either decodes (some flips land in pixel
    data) or raises exactly ValueError."""
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_wav,
    )

    from aws_weather_data_pipeline_spark.functions.flac import encode_flac

    raster = bytes(range(64))  # one 8x8 grayscale block
    rgb = bytes(np.repeat(np.frombuffer(raster, np.uint8), 3))
    payloads = {
        "image/x-portable-pixmap": b"P6\n8 8\n255\n" + rgb,
        "image/png": encode_png(rgb, 8, 8),
        "audio/wav": encode_wav(list(range(-32, 32)), 8000, 1),
        "audio/flac": encode_flac(
            np.arange(-32, 32, dtype=np.int64), 8000, 1
        ),
        "image/gif": encode_gif([raster], 8, 8),
        "image/jpeg": encode_jpeg(raster, 8, 8),
        "video/x-msvideo": encode_avi([rgb, rgb], 8, 8),
    }
    rng = np.random.default_rng(7)
    for ctype, payload in payloads.items():
        assert decode_media(payload, ctype)  # the clean baseline
        mutations = [payload[:k] for k in range(0, len(payload), 7)]
        for _ in range(150):
            flipped = bytearray(payload)
            i = int(rng.integers(len(flipped)))
            flipped[i] ^= int(rng.integers(1, 256))
            mutations.append(bytes(flipped))
        for mut in mutations:
            try:
                decode_media(mut, ctype)
            except ValueError:
                pass  # the one exception the per-row guard handles
            # anything else (struct.error, zlib.error, IndexError,
            # OverflowError, ...) fails the test as an escape


def test_avi_roundtrip_property():
    """Property: any RGB24 frame train at any geometry/fps survives
    the RIFF AVI encode→decode round-trip exactly (storage is
    uncompressed — the container adds headers, BGR order, bottom-up
    rows, and stride padding, all of which must invert)."""
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        n=st.integers(1, 6),
        fps=st.sampled_from([1, 10, 24, 30]),
        data=st.data(),
    )
    def check(w, h, n, fps, data):
        frames = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * 3,
                        max_size=w * h * 3,
                    )
                )
            )
            for _ in range(n)
        ]
        out = decode_media(encode_avi(frames, w, h, fps), "video/x-msvideo")
        assert (out["width"], out["height"]) == (w, h)
        assert (out["rate"], out["scale"]) == (fps, 1)
        assert out["frames"] == frames

    check()


def test_avi_decoder_rejects_malformed_input():
    import struct

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
    )

    good = encode_avi([bytes(range(12))], 2, 2)
    cases = {
        "not riff": b"XXXX" + good[4:],
        "not avi": good[:8] + b"WAVE" + good[12:],
        "truncated": good[:30],
        "size overruns": good[:4] + b"\xff\xff\xff\x7f" + good[8:],
        "audio stream": good.replace(b"vids", b"auds"),
        # flip strf's biCompression 0 -> 1 (planes=1, bitcount=24
        # prefix makes the pattern unique to the BITMAPINFOHEADER)
        "compressed": good.replace(
            struct.pack("<HHI", 1, 24, 0),
            struct.pack("<HHI", 1, 24, 1),
            1,
        ),
        "frame count lies": good.replace(b"00db", b"00xx", 1),
    }
    for desc, mut in cases.items():
        with pytest.raises(ValueError):
            decode_media(mut, "video/x-msvideo")
        # (desc kept for failure readability)
        assert desc


def test_avi_decoder_rejects_second_vids_stream_and_ignores_foreign_chunks():
    """Review r10: a second vids strl must be rejected EXPLICITLY (the
    avih frame-count mismatch that used to catch it incidentally can
    be absent in a malformed file), and movi chunks for any stream
    other than 00 must not interleave into the frame list."""
    import struct

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
    )

    good = encode_avi([bytes(range(12)), bytes(range(12, 24))], 2, 2)

    # --- duplicate the strl LIST inside hdrl: two vids streams ---
    strl_at = good.find(b"strl") - 8  # back up over LIST header
    (strl_size,) = struct.unpack("<I", good[strl_at + 4 : strl_at + 8])
    strl_end = strl_at + 8 + strl_size
    strl_bytes = good[strl_at:strl_end]
    hdrl_at = good.find(b"hdrl") - 8
    (hdrl_size,) = struct.unpack("<I", good[hdrl_at + 4 : hdrl_at + 8])
    (riff_size,) = struct.unpack("<I", good[4:8])
    two_streams = (
        good[:4]
        + struct.pack("<I", riff_size + len(strl_bytes))
        + good[8 : hdrl_at + 4]
        + struct.pack("<I", hdrl_size + len(strl_bytes))
        + good[hdrl_at + 8 : strl_end]
        + strl_bytes
        + good[strl_end:]
    )
    with pytest.raises(ValueError, match="second vids"):
        decode_media(two_streams, "video/x-msvideo")

    # --- rename frame 2's movi chunk to stream 01: ignored, not
    # appended (declared count patched 2 -> 1 so the old incidental
    # catch cannot fire) ---
    first = good.find(b"00db")
    second = good.find(b"00db", first + 4)
    foreign = good[:second] + b"01db" + good[second + 4 :]
    avih_data = foreign.find(b"avih") + 8
    foreign = (
        foreign[: avih_data + 16]
        + struct.pack("<I", 1)
        + foreign[avih_data + 20 :]
    )
    out = decode_media(foreign, "video/x-msvideo")
    assert len(out["frames"]) == 1
    assert out["frames"][0] == bytes(range(12))


def test_flac_query_matches_oracle_and_driver_compare(spark, sf_dir):
    """The exact compare the driver runs for multimodal_decode_flac
    (registered r12 in the retired multimodal_decode_wav's slot;
    plans/multimodal.py FLAC_AUDIO_SQL). Certifies the COMPRESSED
    lossless audio decode
    end to end: multi-frame FLAC streams with rice residuals, wasted
    bits, stereo-mode selection, and CRC/MD5 verification, through
    the unchanged decode_wav_features Arrow stage."""
    from tests.oracle import compare

    from aws_weather_data_pipeline_spark.plans.multimodal import (
        FLAC_AUDIO_SQL,
        multimodal_decode_flac,
    )

    n = compare(
        spark, sf_dir, multimodal_decode_flac, FLAC_AUDIO_SQL,
        name="multimodal_decode_flac",
    )
    assert n > 0


def test_flac_fixture_streams_are_multiframe_and_compressed(spark, sf_dir):
    """Pin that the FLAC fixture exercises the compression machinery:
    every payload is a real fLaC stream, stereo docs exist, streams
    span multiple frames (64-sample blocks), and the encoded payload
    is smaller than the raw 16-bit PCM it carries."""
    from aws_weather_data_pipeline_spark.functions.multimodal import (
        with_flac_payload,
    )
    from aws_weather_data_pipeline_spark.plans.multimodal import _docs

    rows = (
        with_flac_payload(_docs(spark, sf_dir).limit(30))
        .select("doc_id", "payload")
        .collect()
    )
    assert rows
    total_flac = total_raw = 0
    for r in rows:
        b = bytes(r.payload)
        assert b[:4] == b"fLaC", r.doc_id
        n_channels = 1 + r.doc_id % 2
        n = n_channels * (120 + r.doc_id % 150)
        assert b.count(b"\xff\xf8") >= (n // n_channels + 63) // 64, (
            "expected one sync per 64-sample block"
        )
        total_flac += len(b)
        total_raw += n * 2
        # the fLaC marker + STREAMINFO cost a fixed 42 bytes; the
        # coded BODY must always beat the raw PCM it carries
        assert len(b) - 42 < n * 2, (r.doc_id, len(b), n * 2)
    assert total_flac < total_raw, "corpus must compress in aggregate"


def test_avi_fixture_mixes_dib_and_mjpg_codecs(spark, sf_dir):
    """The r11 driver row must certify BOTH codec dispatch paths
    (VERDICT r10 task 1): pin that with_avi_payload emits motion-JPEG
    streams for doc_id % 5 == 0 and uncompressed DIB otherwise, by
    reading each payload's strf biCompression fourcc."""
    import struct

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        with_avi_payload,
    )
    from aws_weather_data_pipeline_spark.plans.multimodal import _docs

    rows = (
        with_avi_payload(_docs(spark, sf_dir).limit(40))
        .select("doc_id", "payload")
        .collect()
    )
    assert rows
    seen = set()
    for r in rows:
        b = bytes(r.payload)
        strf_data = b.find(b"strf") + 8
        (compression,) = struct.unpack(
            "<I", b[strf_data + 16 : strf_data + 20]
        )
        fourcc = (
            "MJPG" if compression == struct.unpack("<I", b"MJPG")[0]
            else "DIB" if compression == 0
            else f"?{compression}"
        )
        assert fourcc == ("MJPG" if r.doc_id % 5 == 0 else "DIB")
        seen.add(fourcc)
    assert seen == {"MJPG", "DIB"}


def test_avi_frames_match_oracle_and_driver_compare(spark, sf_dir):
    """The exact compare the driver runs on the registered (r11)
    multimodal_decode_avi, which replaced multimodal_frame_sample
    per the zero-slack swap (plans/multimodal.py AVI_FRAMES_SQL).
    The sf fixture mixes DIB and MJPG streams, so this one compare
    covers container walk + both codec paths + stride sampling."""
    from tests.oracle import compare

    from aws_weather_data_pipeline_spark.plans.multimodal import (
        AVI_FRAMES_SQL,
        multimodal_decode_avi,
    )

    n = compare(
        spark, sf_dir, multimodal_decode_avi, AVI_FRAMES_SQL,
        name="multimodal_decode_avi",
    )
    assert n > 0


def test_avi_mjpeg_container_is_lossless_wrt_jpeg_codec():
    """The MJPG contract: the CONTAINER layer adds no loss — decoding
    an MJPG AVI yields exactly the per-frame baseline-JPEG round-trip
    (whatever coefficient rounding the JPEG codec itself pins). One
    compare certifies chunk framing, word alignment of odd-length
    JPEG payloads, and the strf 'MJPG' dispatch."""
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        _decode_jpeg,
        encode_avi,
        encode_jpeg,
    )

    rng = np.random.default_rng(31)
    for w, h, n in [(16, 8, 4), (5, 3, 2), (13, 19, 1)]:
        frames = [
            rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
            for _ in range(n)
        ]
        out = decode_media(
            encode_avi(frames, w, h, codec="MJPG"), "video/x-msvideo"
        )
        assert (out["width"], out["height"]) == (w, h)
        expect = [
            bytes(
                _decode_jpeg(
                    encode_jpeg(f, w, h, n_components=3)
                )["pixels"]
            )
            for f in frames
        ]
        assert out["frames"] == expect


def test_avi_mjpeg_gray_constant_blocks_roundtrip_exactly():
    """R=G=B constant 8x8 blocks survive the full MJPG pipeline
    bit-exactly (Y equals the gray level, Cb=Cr=128, every AC is 0 —
    the grayscale analog of the JPEG fixture-exactness property),
    so an oracle can value-check the composed video decode."""
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
    )

    rng = np.random.default_rng(32)
    frames = []
    for _ in range(3):
        g = rng.integers(0, 256, (1, 2), dtype=np.uint8)
        gray = np.repeat(np.repeat(g, 8, 0), 8, 1)
        frames.append(np.stack([gray] * 3, axis=-1).tobytes())
    out = decode_media(
        encode_avi(frames, 16, 8, codec="MJPG"), "video/x-msvideo"
    )
    assert out["frames"] == frames


def test_avi_mjpeg_rejects_malformed_and_mismatched_frames():
    import numpy as np

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        encode_avi,
        encode_jpeg,
    )

    rng = np.random.default_rng(33)
    frames = [
        rng.integers(0, 256, size=16 * 8 * 3, dtype=np.uint8).tobytes()
        for _ in range(2)
    ]
    good = encode_avi(frames, 16, 8, codec="MJPG")

    # corrupt the first JPEG's SOI: must surface as ValueError through
    # the decode_media normalization boundary
    i = good.find(b"00dc") + 8
    bad_soi = good[:i] + b"ZZ" + good[i + 2 :]
    with pytest.raises(ValueError):
        decode_media(bad_soi, "video/x-msvideo")

    # a frame whose JPEG dimensions disagree with the stream header
    wrong = encode_jpeg(
        rng.integers(0, 256, size=8 * 8 * 3, dtype=np.uint8).tobytes(),
        8, 8, n_components=3,
    )
    right = encode_jpeg(frames[0], 16, 8, n_components=3)
    assert len(wrong) != len(right) or wrong != right
    mismatched = good.replace(
        good[i : i + len(right)], wrong.ljust(len(right), b"\x00"), 1
    ) if len(wrong) <= len(right) else None
    if mismatched is not None:
        with pytest.raises(ValueError):
            decode_media(mismatched, "video/x-msvideo")

    # a grayscale JPEG inside an MJPG stream: RGB required
    gray_jpeg_frames = [
        rng.integers(0, 256, size=16 * 8 * 3, dtype=np.uint8).tobytes()
    ]
    gavi = bytearray(encode_avi(gray_jpeg_frames, 16, 8, codec="MJPG"))
    j = bytes(gavi).find(b"00dc") + 8
    gray = encode_jpeg(
        rng.integers(0, 256, size=16 * 8, dtype=np.uint8).tobytes(), 16, 8
    )
    # splice only if sizes allow an in-place swap of the chunk body
    orig = encode_jpeg(gray_jpeg_frames[0], 16, 8, n_components=3)
    if len(gray) <= len(orig):
        gavi[j : j + len(orig)] = gray.ljust(len(orig), b"\x00")
        with pytest.raises(ValueError):
            decode_media(bytes(gavi), "video/x-msvideo")


def test_avi_mjpeg_roundtrip_property():
    """Property: the MJPG container inverts for any geometry/frame
    count — container framing is exact even though the JPEG payload
    is lossy (compared against the per-frame JPEG round-trip)."""
    from hypothesis import given, settings, strategies as st

    from aws_weather_data_pipeline_spark.functions.multimodal import (
        _decode_jpeg,
        encode_avi,
        encode_jpeg,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        n=st.integers(1, 4),
        data=st.data(),
    )
    def check(w, h, n, data):
        frames = [
            bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * 3,
                        max_size=w * h * 3,
                    )
                )
            )
            for _ in range(n)
        ]
        out = decode_media(
            encode_avi(frames, w, h, codec="MJPG"), "video/x-msvideo"
        )
        assert out["frames"] == [
            bytes(
                _decode_jpeg(
                    encode_jpeg(f, w, h, n_components=3)
                )["pixels"]
            )
            for f in frames
        ]

    check()
