"""Multimodal column support: opaque binary payloads + typed metadata.

Image/audio/video content rides through the engine as an opaque
``binary`` column with a typed ``payload_meta`` struct alongside (built
only by ``_with_meta``). Python work crosses the Arrow boundary in
batches, never as Python-object rows, in one of two stage shapes:

- ``_with_encoded_payload``: the Series→Series ``pandas_udf`` that
  builds a synthetic payload from ``(doc_id, text)``. A codec supplies
  only its construction rule, ``_<codec>_fixture``, which its oracle
  SQL mirrors.
- ``_decode_stage``: the ``mapInPandas`` stage that decodes each
  payload through ``decode_media``. A decode query supplies only its
  row rule.

``decode_media`` is a REAL decoder for seven formats (PPM, PNG, WAV,
FLAC, GIF, JPEG, AVI; pure Python + numpy/stdlib), each exercised
end-to-end by a catalog query with an integer-exact oracle. Other
content types raise ``NotImplementedError``; a deployment adds a
branch (PIL/ffmpeg) without touching ``_decode_stage``.
``fake_byte_features`` remains the codec-independent byte-stat
stand-in used by the feature-extract query.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .flac import decode_flac, encode_flac

#: Schema of the feature-extraction stage output — declared up front
#: (mapInPandas requires it; inference is impossible mid-stream).
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("first_byte", T.IntegerType(), True),
        T.StructField("last_byte", T.IntegerType(), True),
        T.StructField("byte_sum_mod", T.LongType(), True),
    ]
)

#: Frames per analysis window in ``wav_window_energy``.
AUDIO_WINDOW_FRAMES = 8
#: ``decode_avi_frames`` keeps every AVI_SAMPLE_STRIDE-th frame.
AVI_SAMPLE_STRIDE = 2
#: Tile grid of ``ppm_tile_stats`` (pixels per tile, w × h).
TILE_W = 4
TILE_H = 2
#: ``resize_payload`` downsamples each payload to at most this many bytes.
RESIZE_TARGET_BYTES = 128


def _with_meta(df: DataFrame, content_type: str) -> DataFrame:
    """Attach the ``payload_meta`` struct (byte count + content type)
    for the ``payload`` column. Metadata travels as one struct column,
    not loose columns, so its schema evolves in one place."""
    return df.withColumn(
        "payload_meta",
        F.struct(
            F.octet_length(F.col("payload")).alias("n_bytes"),
            F.lit(content_type).alias("content_type"),
        ),
    )


def _with_encoded_payload(
    df: DataFrame, content_type: str, encode: Callable[[int, str], bytes]
) -> DataFrame:
    """Attach ``payload = encode(doc_id, text)`` (NULL text reads as
    ``""``) plus its metadata. The codec's bytes cannot be built with
    native column functions (deflate, LZW, Huffman are not SQL), so
    construction is a scalar Arrow-batched ``pandas_udf``; ``encode``
    is the codec's module-level construction rule."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _encode(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [encode(int(d), t or "") for d, t in zip(doc_id, text)]
        )

    return _with_meta(
        df.withColumn("payload", _encode(F.col("doc_id"), F.col("text"))),
        content_type,
    )


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    In production the payload is the raw image/audio bytes read from the
    lake; here it is the utf-8 encoding of the ``text`` column so every
    stage downstream is testable.
    """
    return _with_meta(
        df.withColumn("payload", F.encode(F.col("text"), "utf-8")),
        "text/plain",
    )


#: The malformed-input exception surface of the pure-Python codecs:
#: what truncating or bit-flipping a valid payload actually raises
#: (fuzz-verified, ADVICE r08). decode_media normalizes these to
#: ValueError, so a strict decode stage fails on bad input with one
#: exception type that names the content type.
_MALFORMED_INPUT_ERRORS = (
    struct.error,
    zlib.error,
    IndexError,
    KeyError,
    OverflowError,
    EOFError,
)


def decode_media(payload_bytes: bytes, content_type: str) -> dict:
    """Decode a media payload to its typed dict.

    Seven real decoders, pure Python + numpy/stdlib: binary PPM (P6),
    PNG (8-bit RGB — chunk walk with CRC check, zlib inflate,
    scanline unfilter for all five filter types), RIFF WAV (16-bit
    PCM), FLAC (RFC 9639 compressed lossless audio: metadata walk,
    rice-coded residuals with partition orders and escapes,
    CONSTANT/VERBATIM/FIXED/LPC subframes, wasted bits, left/right/
    mid-side decorrelation, CRC-8/16 + stream-MD5 verify — see
    ``functions/flac.py``), GIF89a (multi-frame animation:
    logical-screen/color-table parse, per-frame image descriptors,
    REAL LZW decompression with growing code widths and clear-code
    resets), baseline-DCT JPEG (SOF0: DQT/DHT/DRI marker walk,
    canonical Huffman decode, vectorized dequantize + inverse-zigzag
    + IDCT, grayscale and 4:4:4 YCbCr->RGB), and RIFF AVI video
    (hdrl/strl header walk, movi frame chunks — uncompressed RGB24
    DIB frames with bottom-up BGR stride-padded rows back to
    top-down RGB, OR motion-JPEG 'MJPG' streams decoded per-frame
    through the JPEG codec). Every other content type raises
    ``NotImplementedError``: PERCEPTUAL codecs (MP3/AAC, inter-frame
    video) need libraries not present in this container, and their
    float-transform outputs cannot be exactness-pinned without a
    golden reference decoder; a deployment installs ffmpeg and adds
    branches here — the surrounding plumbing (``_decode_stage``) is
    format-agnostic and unchanged.
    """
    decoder = _DECODERS.get(content_type)
    if decoder is not None:
        try:
            return decoder(payload_bytes)
        except ValueError:
            raise
        except _MALFORMED_INPUT_ERRORS as exc:
            # Normalize the full malformed-input surface to ValueError:
            # input validation, so a bad payload fails the stage as a
            # data error that names its content type. Truncated or
            # bit-flipped payloads legitimately escape the decoders as
            # struct.error / zlib.error (short PNG/GIF chunks),
            # IndexError / KeyError (corrupt JPEG Huffman tables),
            # OverflowError / EOFError (malformed lengths) — at a
            # 100 TB scan these ARE data errors, not bugs (ADVICE r08,
            # fuzz-verified).
            raise ValueError(
                f"malformed {content_type} payload: "
                f"{type(exc).__name__}: {exc}"
            ) from exc
    raise NotImplementedError(
        f"no decoder for {content_type!r} in this environment; "
        "binary PPM, 8-bit RGB PNG, 16-bit PCM WAV, FLAC, GIF89a, "
        "baseline-DCT JPEG, and RGB24 AVI (uncompressed DIB or "
        "motion-JPEG) are the built-in reference decoders. "
        "PERCEPTUAL codecs (MP3/AAC, inter-frame video) stay "
        "external: they are float transforms whose conformance "
        "cannot be pinned without a golden reference decoder, which "
        "this container does not ship — a deployment installs "
        "ffmpeg and adds branches here; the surrounding plumbing is "
        "format-agnostic"
    )


def _decode_stage(
    df: DataFrame,
    schema: T.StructType,
    rows: Callable[[int, dict], Iterable[tuple]],
) -> DataFrame:
    """The one decode stage: each payload goes through ``decode_media``
    and ``rows(doc_id, decoded)`` yields zero or more tuples in
    ``schema`` order (zero or many is row expansion, e.g. one row per
    frame). Narrow Arrow-batched ``mapInPandas``: partition-preserving,
    no shuffle; only (doc_id, payload, content_type) crosses the
    boundary."""
    names = schema.fieldNames()

    def gen(pdf_iter: Iterator) -> Iterator:
        for pdf in pdf_iter:
            out = [
                row
                for doc_id, payload, ctype in zip(
                    pdf["doc_id"], pdf["payload"], pdf["content_type"]
                )
                for row in rows(doc_id, decode_media(bytes(payload), ctype))
            ]
            yield pd.DataFrame(out, columns=names)

    return df.select(
        "doc_id", "payload",
        F.col("payload_meta.content_type").alias("content_type"),
    ).mapInPandas(gen, schema=schema)


def _decode_ppm(b: bytes) -> dict:
    """Parse a binary PPM (P6): header tokens (with ``#`` comments and
    arbitrary whitespace, per the netpbm spec), then the raw RGB plane.
    """
    if b[:2] != b"P6":
        raise ValueError(f"not a P6 PPM: magic={b[:2]!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = tokens
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported maxval {maxval} (1-byte samples only)")
    n = width * height * 3
    pixels = b[pos : pos + n]
    if len(pixels) != n:
        raise ValueError(f"raster truncated: {len(pixels)} of {n} bytes")
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixels": pixels,
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One PNG chunk: length, type, data, CRC32 over type+data."""
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


# The Paeth predictor (RFC 2083 §6.6) lives as lane-vectorized numpy
# in both encode_png and _decode_png: pa=|b-c|, pb=|a-c|, pc=|a+b-2c|
# with the left/up/up-left pick via np.where — no scalar helper, so
# the two copies are pinned against each other by the round-trip
# property test.


def encode_png(raster: bytes, width: int, height: int) -> bytes:
    """Encode raw RGB bytes as a spec-compliant PNG (8-bit, color
    type 2, no interlace).

    Each scanline gets filter type ``row % 5``, so a round-trip
    through ``_decode_png`` exercises None/Sub/Up/Average/Paeth —
    the filters are what distinguish PNG decoding from plain inflate.
    Fixture-generation side of the codec pair; CRCs are real.
    """
    import struct
    import zlib

    if len(raster) != width * height * 3:
        raise ValueError(
            f"raster is {len(raster)} bytes; {width}x{height} RGB "
            f"needs {width * height * 3}"
        )
    bpp, stride = 3, width * 3
    # Unlike DECODE, every encode predictor reads only RAW neighbor
    # values (never filter output), so all five filter types vectorize
    # whole-row: left/up/up-left are shifted views of the raster.
    arr = (
        np.frombuffer(raster, dtype=np.uint8)
        .astype(np.int64)
        .reshape(height, stride)
    )
    zrow = np.zeros((1, stride), dtype=np.int64)
    ups = np.vstack([zrow, arr[:-1]])
    zcol = np.zeros((height, bpp), dtype=np.int64)
    lefts = np.hstack([zcol, arr[:, :-bpp]])
    uplefts = np.hstack([zcol, ups[:, :-bpp]])
    filtered = bytearray()
    for row in range(height):
        line, left, up, upleft = (
            arr[row], lefts[row], ups[row], uplefts[row]
        )
        ftype = row % 5
        filtered.append(ftype)
        if ftype == 0:
            enc = line
        elif ftype == 1:
            enc = line - left
        elif ftype == 2:
            enc = line - up
        elif ftype == 3:
            enc = line - ((left + up) >> 1)
        else:
            pa = np.abs(up - upleft)
            pb = np.abs(left - upleft)
            pc = np.abs(left + up - 2 * upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, up, upleft),
            )
            enc = line - pred
        filtered.extend((enc & 0xFF).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered), 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(b: bytes) -> dict:
    """Decode an 8-bit RGB PNG: chunk walk (CRC-verified), IDAT
    inflate, and per-scanline unfiltering (all five filter types).
    """
    import struct
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: signature={b[:8]!r}")
    pos, ihdr, idat = 8, None, bytearray()
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated {ctype!r} chunk")
        (crc,) = struct.unpack(
            ">I", b[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("no IHDR chunk")
    width, height, depth, ctype_n, comp, filt, interlace = ihdr
    if (depth, ctype_n, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "only 8-bit non-interlaced RGB supported, got "
            f"depth={depth} color={ctype_n} interlace={interlace}"
        )
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, width * 3
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"inflated to {len(raw)} bytes; expected "
            f"{height * (stride + 1)}"
        )
    # Scanline unfiltering is numpy-vectorized where the recurrence
    # allows: None is a copy, Up is one whole-row add, and Sub's
    # out[i] = raw[i] + out[i-bpp] telescopes to a per-channel-lane
    # cumulative sum mod 256. Average and Paeth are left-DEPENDENT
    # through a nonlinear step (floor-div / predictor pick), so they
    # are inherently sequential along the scanline — the loop there
    # is per PIXEL with the channel lanes vectorized, the same shape
    # every pure-Python PNG decoder lands on. Per-sample Python
    # arithmetic survives only inside that irreducible recurrence.
    grid = np.frombuffer(raw, dtype=np.uint8).reshape(
        height, stride + 1
    )
    ftypes = grid[:, 0]
    if int(ftypes.max(initial=0)) > 4:
        bad = int(np.argmax(ftypes > 4))
        raise ValueError(
            f"bad filter type {int(ftypes[bad])} on row {bad}"
        )
    out = np.empty((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for row in range(height):
        ftype = int(ftypes[row])
        line = grid[row, 1:].astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 1:
            cur = np.cumsum(line.reshape(width, bpp), axis=0).ravel() & 0xFF
        elif ftype == 2:
            cur = (line + prior) & 0xFF
        else:
            cur = np.empty(stride, dtype=np.int64)
            ln = line.reshape(width, bpp)
            pr = prior.reshape(width, bpp)
            left = np.zeros(bpp, dtype=np.int64)
            upleft = np.zeros(bpp, dtype=np.int64)
            for x in range(width):
                up = pr[x]
                if ftype == 3:
                    left = (ln[x] + ((left + up) >> 1)) & 0xFF
                else:  # Paeth: |p-a|=|b-c|, |p-b|=|a-c|, |p-c|=|a+b-2c|
                    pa = np.abs(up - upleft)
                    pb = np.abs(left - upleft)
                    pc = np.abs(left + up - 2 * upleft)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up, upleft),
                    )
                    left = (ln[x] + pred) & 0xFF
                cur[x * bpp : (x + 1) * bpp] = left
                upleft = up
        out[row] = cur
        prior = cur
    return {
        "width": width,
        "height": height,
        "maxval": 255,
        "pixels": out.tobytes(),
    }


def encode_wav(
    samples: list[int], sample_rate: int, n_channels: int
) -> bytes:
    """Encode interleaved 16-bit PCM frames as a spec-compliant RIFF
    WAV (fmt + data chunks, little-endian). Fixture side of the audio
    codec pair."""
    import struct

    arr = np.asarray(samples)
    if arr.size and not np.issubdtype(arr.dtype, np.integer):
        # struct.pack previously rejected non-int samples loudly; a
        # dtype-coercing asarray would silently floor floats instead.
        raise ValueError(f"samples must be integers, got {arr.dtype}")
    arr = arr.astype(np.int64)
    if arr.size % max(n_channels, 1):
        raise ValueError(
            f"{arr.size} samples not divisible by {n_channels} "
            "channels"
        )
    if arr.size and (arr.min() < -32768 or arr.max() > 32767):
        raise ValueError("sample out of int16 range")
    data = arr.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * n_channels * 2,
        n_channels * 2,
        16,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _decode_wav(b: bytes) -> dict:
    """Decode a RIFF WAV: chunk walk (word-aligned), PCM 16-bit only;
    returns ``{n_channels, sample_rate, samples}`` with samples as a
    flat interleaved int16 numpy array (zero-copy ``np.frombuffer``
    view of the data chunk — downstream statistics stay vectorized;
    only the header walk is interpreter-side)."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE file: {b[:4]!r}/{b[8:12]!r}"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        (length,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated {ctype!r} chunk")
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif ctype == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if (audio_format, bits) != (1, 16):
        raise ValueError(
            f"only 16-bit PCM supported, got format={audio_format} "
            f"bits={bits}"
        )
    if n_channels < 1:
        # a 0-channel fmt chunk is parseable but every consumer
        # divides by the channel count (review r06: ZeroDivisionError
        # inside mapInPandas kills the stage)
        raise ValueError(f"invalid channel count {n_channels}")
    if len(data) % 2:
        raise ValueError("odd data-chunk length for 16-bit samples")
    samples = np.frombuffer(data, dtype="<i2")
    return {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "samples": samples,
    }


def _wav_fixture(doc_id: int, text: str) -> bytes:
    """Channel count, sample rate, and frame count come from doc_id;
    sample values are an affine map of the text's bytes (padded with
    'x' like the image payloads)."""
    n_channels = 1 + doc_id % 2
    sample_rate = 8000 + 1000 * (doc_id % 3)
    n = n_channels * (10 + doc_id % 20)
    raw = text[:120].encode("utf-8")[:n].ljust(n, b"x")
    samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) * 37 - 6000
    return encode_wav(samples, sample_rate, n_channels)


def with_wav_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic 16-bit PCM WAV payload (``_wav_fixture``)
    derived from the ``text`` column: every decoded statistic is
    SQL-derivable and the Spark side must survive a real RIFF
    encode→decode round-trip to match the oracle.
    """
    return _with_encoded_payload(df, "audio/wav", _wav_fixture)


def _flac_fixture(doc_id: int, text: str) -> bytes:
    """Channel count / sample rate / frame count come from doc_id;
    samples are an affine map of the text bytes scaled by 4 (two
    wasted bits — the encoder must detect them), in 64-sample FLAC
    frames including a short tail block."""
    n_channels = 1 + doc_id % 2
    sample_rate = 8000 + 4050 * (doc_id % 3)
    n = n_channels * (120 + doc_id % 150)
    raw = text[:200].encode("utf-8")[:n].ljust(n, b"x")
    # each text byte drives THREE consecutive samples: real audio is
    # locally correlated, and the run structure is what lets the fixed
    # predictors + rice coding genuinely compress (a per-character
    # signal is near-noise)
    idx = np.arange(n) // 3
    samples = (
        np.frombuffer(raw, dtype=np.uint8).astype(np.int64)[idx] * 29 - 1800
    ) * 4
    return encode_flac(samples, sample_rate, n_channels, block_size=64)


def with_flac_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic FLAC payload (``_flac_fixture``) derived
    from the ``text`` column.

    A decode exercises multi-frame walks, rice residuals, the
    per-frame stereo-mode search, and CRC verification. FLAC is
    lossless, so every decoded statistic is SQL-derivable from the
    construction rule exactly like the WAV fixture. The decode stage
    is ``decode_wav_features`` unchanged: ``decode_media`` dispatches
    on the content type and both decoders share the samples
    contract."""
    return _with_encoded_payload(df, "audio/flac", _flac_fixture)


#: Audio decode-stage output schema: integer-exact sample statistics.
WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sample_sum", T.LongType(), True),
        T.StructField("peak_amplitude", T.LongType(), True),
        T.StructField("mean_amplitude", T.DoubleType(), True),
    ]
)


def decode_wav_features(df: DataFrame) -> DataFrame:
    """Audio decode stage: WAV/FLAC payloads → one row of sample
    statistics each (peak and mean are NULL for a zero-sample
    stream)."""

    def rows(doc_id: int, wav: dict) -> Iterator[tuple]:
        # Vectorized sample statistics: the decoder hands an int16
        # ndarray; sums/peaks run in numpy int64 — no per-sample
        # interpreter arithmetic.
        s = np.asarray(wav["samples"], dtype=np.int64)
        ssum = int(s.sum())
        yield (
            doc_id,
            wav["n_channels"],
            wav["sample_rate"],
            s.size // wav["n_channels"] if s.size else 0,
            ssum,
            int(np.abs(s).max()) if s.size else None,
            ssum / s.size if s.size else None,
        )

    return _decode_stage(df, WAV_SCHEMA, rows)


#: Windowed-energy output schema: one row per fixed-size frame window.
WAV_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("energy_sum", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
    ]
)


def wav_window_energy(df: DataFrame) -> DataFrame:
    """Windowed audio features: decode each WAV payload and emit one
    row per ``AUDIO_WINDOW_FRAMES``-frame window with its exact
    integer energy (sum of squared samples) and peak amplitude — the
    framing step under VAD / audio fingerprinting / silence trimming.
    Row EXPANSION through Arrow (one input row → ⌈frames/window⌉
    output rows, none for a zero-frame stream); windows are
    frame-aligned so multichannel frames never split."""

    def rows(doc_id: int, wav: dict) -> Iterator[tuple]:
        s = np.asarray(wav["samples"], dtype=np.int64)
        nc = wav["n_channels"]
        n_frames = s.size // nc if nc else 0
        n_windows = -(-n_frames // AUDIO_WINDOW_FRAMES)
        if not n_windows:
            return
        # Vectorized windowing: zero-pad the (frame-aligned) sample
        # train to a whole number of windows and reduce each reshaped
        # row in numpy — zero padding cannot change an energy sum or
        # an |x| peak, and n_samples is analytic. No per-sample Python
        # arithmetic.
        wlen = AUDIO_WINDOW_FRAMES * nc
        padded = np.zeros(n_windows * wlen, dtype=np.int64)
        padded[: n_frames * nc] = s[: n_frames * nc]
        m = padded.reshape(n_windows, wlen)
        energy = np.einsum("ij,ij->i", m, m)
        peak = np.abs(m).max(axis=1)
        n_samples = np.full(n_windows, wlen, dtype=np.int64)
        n_samples[-1] = (
            n_frames - (n_windows - 1) * AUDIO_WINDOW_FRAMES
        ) * nc
        yield from zip(
            [doc_id] * n_windows,
            range(n_windows),
            n_samples.tolist(),
            energy.tolist(),
            peak.tolist(),
        )

    return _decode_stage(df, WAV_WINDOW_SCHEMA, rows)


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW compression (LSB-first bit packing, growing
    code widths (mcs+1)..12, clear-code emitted at start and on
    dictionary overflow at 4096). Fixture side of the animation codec
    pair; the stream is spec-compliant, not a degenerate
    clear-every-symbol encoding, so the decoder's dictionary growth
    and width bumps are genuinely exercised."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = b""
    for byte in data:
        if byte >= clear:
            raise ValueError(
                f"symbol {byte} exceeds the {clear}-entry alphabet "
                f"of min_code_size={min_code_size}"
            )
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
        elif next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = c
    if w:
        emit(table[w])
        # Tail-boundary width sync (hypothesis-found r06): the
        # decoder adds one more table entry while PROCESSING this
        # final code and then applies its lagged early-bump, so if
        # next_code lands on (1 << cs) - 1 here, the decoder will
        # read the EOI one bit wider. Mid-stream the encoder's own
        # add keeps the widths in lockstep; the tail emit has no add,
        # so mirror the decoder's bump explicitly before EOI.
        if next_code == (1 << code_size) - 1 and code_size < 12:
            code_size += 1
    emit(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decompression. The decoder's table lags the
    encoder's by one entry, so the width bump fires at
    ``next_code == (1 << code_size) - 1`` — the standard (non-
    'early-change-bug') rule; the matching encoder bumps at
    ``next_code == 1 << code_size``. Handles mid-stream clear codes
    and the KwKwK self-referencing case (``code == next_code``)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code = eoi + 1
    out = bytearray()
    buf = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI code")
            buf |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = buf & ((1 << code_size) - 1)
        buf >>= code_size
        nbits -= code_size
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            next_code = eoi + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} beyond table {next_code}")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) - 1 and code_size < 12:
                code_size += 1
        prev = entry


def _gif_subblocks(data: bytes) -> bytes:
    """Chunk a byte stream into GIF data sub-blocks (<=255 + length
    prefix, zero-length terminator)."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


#: Grayscale 256-entry global color table: palette[i] = (i, i, i).
_GIF_MCS = 8


def encode_gif(frames: list[bytes], width: int, height: int) -> bytes:
    """Encode indexed frames as a spec-compliant animated GIF89a:
    logical screen descriptor, 256-entry global color table, and per
    frame a graphic-control extension + image descriptor + REAL
    LZW-compressed index stream in data sub-blocks. Fixture side of
    the animation codec pair."""
    import struct

    for f in frames:
        if len(f) != width * height:
            raise ValueError(
                f"frame is {len(f)} indices; {width}x{height} "
                f"needs {width * height}"
            )
    out = bytearray(b"GIF89a")
    # packed: global color table, 8-bit color resolution, size 2^8
    out.extend(struct.pack("<HHBBB", width, height, 0xF7, 0, 0))
    for i in range(256):
        out.extend((i, i, i))
    for f in frames:
        out.extend(b"\x21\xf9\x04\x00\x0a\x00\x00\x00")  # GCE: 10cs delay
        out.extend(
            b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        )
        out.append(_GIF_MCS)
        out.extend(_gif_subblocks(_lzw_encode(f, _GIF_MCS)))
    out.append(0x3B)  # trailer
    return bytes(out)


def _decode_gif(b: bytes) -> dict:
    """Decode a GIF87a/89a animation: header + logical screen
    descriptor, global color table, extension skip-walk, per-frame
    image descriptors (local color tables parsed, interlace
    rejected), LZW decompression per frame. Returns ``{width,
    height, frames}`` with frames as a list of index byte strings."""
    import struct

    if b[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError(f"not a GIF: header={b[:6]!r}")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    if packed & 0x80:  # global color table
        pos += 3 * (2 << (packed & 0x07))
    frames: list[dict] = []
    saw_trailer = False
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:  # trailer
            saw_trailer = True
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad block 0x{block:02x} at {pos}")
        fx, fy, fw, fh, fpacked = struct.unpack(
            "<HHHHB", b[pos + 1 : pos + 10]
        )
        pos += 10
        if fpacked & 0x40:
            raise ValueError("interlaced GIF frames not supported")
        if fpacked & 0x80:  # local color table
            pos += 3 * (2 << (fpacked & 0x07))
        mcs = b[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(b) and b[pos]:
            n = b[pos]
            chunk = b[pos + 1 : pos + 1 + n]
            if len(chunk) != n:
                raise ValueError("truncated GIF data sub-block")
            lzw.extend(chunk)
            pos += 1 + n
        if pos >= len(b):
            raise ValueError("GIF data sub-blocks missing terminator")
        pos += 1
        indices = _lzw_decode(bytes(lzw), mcs)
        if len(indices) != fw * fh:
            raise ValueError(
                f"frame decoded to {len(indices)} indices; "
                f"{fw}x{fh} needs {fw * fh}"
            )
        # each frame keeps its OWN descriptor geometry — optimized
        # GIFs use sub-rectangle delta frames, and reporting the
        # logical-screen size for them misdescribes every pixel
        # position (review r06)
        frames.append(
            {"x": fx, "y": fy, "w": fw, "h": fh, "indices": indices}
        )
    if not saw_trailer:
        # a file cut at a block boundary would otherwise return a
        # silently truncated animation (review r06) — inconsistent
        # with the loud failure mid-sub-block truncation already gets
        raise ValueError("GIF missing trailer (truncated file)")
    return {"width": width, "height": height, "frames": frames}


def _gif_fixture(doc_id: int, text: str) -> bytes:
    """Frame dimensions and count come from doc_id (width 1-6, height
    1-4, 2-4 frames); frame ``f``'s pixel indices are the text bytes
    at offset f*w*h, truncated/right-padded to n_frames*w*h total
    (ASCII corpus → every byte is a valid 256-palette index)."""
    w = 1 + doc_id % 6
    h = 1 + doc_id % 4
    n_frames = 2 + doc_id % 3
    raw = text[:120].encode("utf-8")
    raw = raw[: n_frames * w * h].ljust(n_frames * w * h, b"x")
    frames = [raw[f * w * h : (f + 1) * w * h] for f in range(n_frames)]
    return encode_gif(frames, w, h)


def with_gif_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic animated-GIF payload (``_gif_fixture``)
    derived from the ``text`` column. The construction rule is
    SQL-derivable, so the oracle re-derives every decoded frame
    statistic while the Spark side must survive a real LZW
    compress→decompress round-trip per frame."""
    return _with_encoded_payload(df, "image/gif", _gif_fixture)


#: Animation decode-stage output: one row per decoded FRAME.
GIF_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_indices", T.LongType(), True),
        T.StructField("index_sum", T.LongType(), True),
        T.StructField("index_max", T.LongType(), True),
    ]
)


def decode_gif_frames(df: DataFrame) -> DataFrame:
    """Animation decode stage: GIF payloads → one row per frame with
    exact index statistics (numpy-reduced; only the container walk
    and LZW recurrence are interpreter-side — LZW's dictionary
    feedback is inherently sequential, the per-sample analog of the
    Paeth scanline filter). Row expansion through Arrow."""

    def rows(doc_id: int, gif: dict) -> Iterator[tuple]:
        for idx, frame in enumerate(gif["frames"]):
            arr = np.frombuffer(frame["indices"], dtype=np.uint8)
            # the frame's OWN geometry, not the logical screen's —
            # identical for the full-frame fixture encoder, different
            # for delta-frame GIFs
            yield (
                doc_id,
                idx,
                frame["w"],
                frame["h"],
                arr.size,
                int(arr.sum(dtype=np.int64)),
                int(arr.max()) if arr.size else None,
            )

    return _decode_stage(df, GIF_FRAME_SCHEMA, rows)


# ---------------------------------------------------------------------------
# AVI video container (RIFF, uncompressed RGB24 'DIB ' frames)
# ---------------------------------------------------------------------------


#: 'MJPG' as the little-endian u32 a BITMAPINFOHEADER stores it as.
_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def encode_avi(
    frames: list[bytes],
    width: int,
    height: int,
    fps: int = 10,
    codec: str = "DIB",
) -> bytes:
    """Encode RGB24 frames as a RIFF AVI.

    Each input frame is ``width*height*3`` top-down RGB bytes.
    ``codec="DIB"`` stores them uncompressed the DIB way (bottom-up
    rows, BGR order, row stride padded to 4 bytes) inside ``00db``
    chunks — lossless, so encode→decode round-trips bit-exactly.
    ``codec="MJPG"`` stores each frame as a standalone baseline-DCT
    JPEG (``encode_jpeg``, 4:4:4, all-ones quant tables) inside
    ``00dc`` chunks — the motion-JPEG layout real capture hardware
    emits. The CONTAINER layer is exact either way: an MJPG
    round-trip equals the per-frame JPEG round-trip, and a frame
    whose every 8x8 tile is constant survives bit-exactly (the JPEG
    fixture discipline) — which is what lets a SQL oracle check the
    composed video decode. Both variants carry the standard ``hdrl``
    headers (``avih`` main header, one ``vids`` stream with
    ``strh``+``strf`` BITMAPINFOHEADER) and an ``idx1`` keyframe
    index."""
    if any(len(f) != width * height * 3 for f in frames):
        raise ValueError("every frame must be width*height*3 RGB bytes")
    if codec not in ("DIB", "MJPG"):
        raise ValueError(f"codec must be 'DIB' or 'MJPG', got {codec!r}")
    stride = (width * 3 + 3) & ~3
    if codec == "MJPG":
        payloads = [
            encode_jpeg(f, width, height, n_components=3) for f in frames
        ]
        size_image = max((len(p) for p in payloads), default=0)
        handler, compression, chunk_cc = b"MJPG", _MJPG_FOURCC, b"00dc"
    else:
        size_image = stride * height
        handler, compression, chunk_cc = b"DIB ", 0, b"00db"

        def dib(frame: bytes) -> bytes:
            arr = np.frombuffer(frame, dtype=np.uint8).reshape(
                height, width, 3
            )
            rows = np.zeros((height, stride), dtype=np.uint8)
            rows[:, : width * 3] = arr[::-1, :, ::-1].reshape(
                height, width * 3
            )
            return rows.tobytes()

        payloads = [dib(f) for f in frames]

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        size_image * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        size_image + 8,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4h",
        b"vids", handler,
        0, 0, 0, 0,  # dwFlags, wPriority, wLanguage, dwInitialFrames
        1, fps,  # dwScale, dwRate: fps = rate/scale
        0, len(frames),  # dwStart, dwLength (frames)
        size_image + 8, 0, 0,  # dwSuggestedBufferSize, quality, sampleSize
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, compression,
        size_image, 0, 0, 0, 0,
    )

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        # RIFF word alignment: an odd-sized chunk is followed by one
        # pad byte the size field does NOT count (JPEG payloads can be
        # odd; DIB frames never were — their stride is 4-aligned)
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi_chunks, idx_entries, offset = [], [], 4
    for payload in payloads:
        data = chunk(chunk_cc, payload)
        movi_chunks.append(data)
        idx_entries.append(
            struct.pack("<4sIII", chunk_cc, 0x10, offset, len(payload))
        )
        offset += len(data)
    movi = lst(b"movi", b"".join(movi_chunks))
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _avi_chunks(b: bytes, pos: int, end: int):
    """Walk RIFF chunks in b[pos:end], yielding (fourcc, start, size).
    Chunks are word-aligned: an odd size is followed by a pad byte."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated RIFF chunk header at {pos}")
        fourcc = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError(
                f"chunk {fourcc!r} at {pos} claims {size} bytes past "
                "the container end (truncated file)"
            )
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def _decode_avi(b: bytes) -> dict:
    """Decode an RGB24 AVI: RIFF walk (hdrl: avih + one vids stream's
    strh/strf; movi: 00db/00dc frame chunks; idx1 ignored), then per
    ``biCompression`` either DIB rows (0 = BI_RGB: bottom-up, BGR,
    4-byte stride, converted back to top-down RGB) or motion-JPEG
    ('MJPG': each frame chunk is a standalone baseline-DCT JPEG,
    decoded by ``_decode_jpeg``, dimensions cross-checked against the
    stream header). Returns {width, height, rate, scale, frames} with
    frames as top-down RGB byte strings. Other compressions (H.264,
    ...), non-24-bit streams, and multi-stream files raise
    ValueError — DIB and MJPG are the reference decoders; a
    deployment adds codec branches via ffmpeg."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError(
            f"not a RIFF AVI: magic={b[:4]!r}/{b[8:12]!r}"
        )
    (riff_size,) = struct.unpack("<I", b[4:8])
    end = min(8 + riff_size, len(b))
    if 8 + riff_size > len(b):
        raise ValueError("RIFF size field exceeds file length")
    width = height = rate = scale = declared = None
    bitcount = compression = None
    saw_vids = False
    frames: list[bytes] = []
    for fourcc, start, size in _avi_chunks(b, 12, end):
        if fourcc != b"LIST":
            continue  # idx1 / JUNK at top level
        kind = b[start : start + 4]
        if kind == b"hdrl":
            for f2, s2, z2 in _avi_chunks(b, start + 4, start + size):
                if f2 == b"avih":
                    if z2 < 40:
                        raise ValueError("avih header too short")
                    declared = struct.unpack("<I", b[s2 + 16 : s2 + 20])[0]
                elif f2 == b"LIST" and b[s2 : s2 + 4] == b"strl":
                    for f3, s3, z3 in _avi_chunks(b, s2 + 4, s2 + z2):
                        if f3 == b"strh":
                            if z3 < 48:
                                raise ValueError("strh too short")
                            fcc_type = b[s3 : s3 + 4]
                            if fcc_type != b"vids":
                                raise ValueError(
                                    "only single-video-stream AVIs "
                                    f"supported; got {fcc_type!r}"
                                )
                            # A SECOND vids strl must be rejected
                            # here, explicitly: without this, its
                            # frames would interleave into the single
                            # frame list, caught only incidentally by
                            # the avih frame-count check — which a
                            # malformed file can omit (review r10).
                            if saw_vids:
                                raise ValueError(
                                    "only single-video-stream AVIs "
                                    "supported; got a second vids strl"
                                )
                            saw_vids = True
                            scale, rate = struct.unpack(
                                "<II", b[s3 + 20 : s3 + 28]
                            )
                        elif f3 == b"strf":
                            if z3 < 40:
                                raise ValueError(
                                    "BITMAPINFOHEADER too short"
                                )
                            (
                                _bisize, width, height, _planes,
                                bitcount, compression,
                            ) = struct.unpack("<IiiHHI", b[s3 : s3 + 20])
        elif kind == b"movi":
            for f2, s2, z2 in _avi_chunks(b, start + 4, start + size):
                # stream 00 only — the single declared vids stream;
                # chunks for any other stream number belong to a strl
                # the header walk already rejected (review r10)
                if f2[:2] == b"00" and f2[2:4] in (b"db", b"dc"):
                    frames.append(b[s2 : s2 + z2])
    if width is None or bitcount is None:
        raise ValueError("AVI missing strf BITMAPINFOHEADER")
    if compression not in (0, _MJPG_FOURCC) or bitcount != 24:
        raise ValueError(
            f"only 24-bit DIB or MJPG frames supported; got "
            f"biCompression={compression} biBitCount={bitcount}"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"bad dimensions {width}x{height}")
    if declared is not None and declared != len(frames):
        raise ValueError(
            f"avih declares {declared} frames; movi has {len(frames)}"
        )
    rgb_frames: list[bytes] = []
    if compression == _MJPG_FOURCC:
        for i, data in enumerate(frames):
            img = _decode_jpeg(data)
            if (img["width"], img["height"]) != (width, height):
                raise ValueError(
                    f"frame {i}: JPEG is {img['width']}x{img['height']}, "
                    f"stream header says {width}x{height}"
                )
            if len(img["pixels"]) != width * height * 3:
                raise ValueError(
                    f"frame {i}: MJPG stream must be RGB; got a "
                    "grayscale JPEG"
                )
            rgb_frames.append(bytes(img["pixels"]))
    else:
        stride = (width * 3 + 3) & ~3
        for i, data in enumerate(frames):
            if len(data) != stride * height:
                raise ValueError(
                    f"frame {i}: {len(data)} bytes, DIB {width}x{height} "
                    f"needs {stride * height}"
                )
            rows = np.frombuffer(data, dtype=np.uint8).reshape(
                height, stride
            )
            rgb = (
                rows[:, : width * 3]
                .reshape(height, width, 3)[::-1, :, ::-1]
                .tobytes()
            )
            rgb_frames.append(rgb)
    return {
        "width": width,
        "height": height,
        "rate": rate,
        "scale": scale,
        "frames": rgb_frames,
    }


def _avi_fixture(doc_id: int, text: str) -> bytes:
    """Mixes BOTH supported codecs so one fixture exercises both
    decode paths.

    Docs with ``doc_id % 5 == 0`` carry a motion-JPEG ('MJPG') stream:
    width 8 or 16, height 8, 2-5 frames, where frame ``f``'s pixels
    are constant-gray 8x8 tiles (tile ``t``'s gray level = the text
    byte at offset f*n_tiles+t, right-padded with 'x') — the JPEG
    fixture-exactness discipline (R=G=B constant per block, all-ones
    quant tables) makes the lossy codec bit-exact, so the oracle can
    re-derive every decoded byte. All other docs carry the
    uncompressed-DIB stream: width 1-4, height 1-3, 2-5 frames, frame
    ``f``'s RGB bytes = the text bytes at offset f*w*h*3, right-padded
    to n_frames*w*h*3 with 'x'."""
    n_frames = 2 + doc_id % 4
    src = text[:180].encode("utf-8")
    if doc_id % 5 == 0:
        w, h = 8 * (1 + doc_id % 2), 8
        n_tiles = w // 8
        raw = src[: n_frames * n_tiles].ljust(n_frames * n_tiles, b"x")
        frames = []
        for f in range(n_frames):
            row = b"".join(
                bytes([raw[f * n_tiles + k]]) * 24 for k in range(n_tiles)
            )
            frames.append(row * 8)
        return encode_avi(frames, w, h, codec="MJPG")
    w = 1 + doc_id % 4
    h = 1 + doc_id % 3
    total = n_frames * w * h * 3
    raw = src[:total].ljust(total, b"x")
    frames = [
        raw[f * w * h * 3 : (f + 1) * w * h * 3] for f in range(n_frames)
    ]
    return encode_avi(frames, w, h)


def with_avi_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic AVI payload (``_avi_fixture``) derived from
    the ``text`` column. Both codec constructions are SQL-derivable,
    while the Spark side must survive the full RIFF container
    round-trip (DIB: bottom-up BGR rows + 4-byte stride padding;
    MJPG: per-frame baseline-DCT JPEG entropy decode)."""
    return _with_encoded_payload(df, "video/x-msvideo", _avi_fixture)


#: Video decode-stage output: one row per SAMPLED decoded frame.
AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixel_bytes", T.LongType(), True),
        T.StructField("pixel_byte_sum", T.LongType(), True),
        T.StructField("frame_md5", T.StringType(), True),
    ]
)


def decode_avi_frames(df: DataFrame) -> DataFrame:
    """Video decode + keyframe-style sampling: decode the container,
    keep every ``AVI_SAMPLE_STRIDE``-th frame, emit exact per-frame
    statistics and the frame's md5 (SQL-checkable — the decoded RGB
    bytes ARE the construction rule's text bytes). Row expansion
    through Arrow; downstream per-frame ops key on (doc_id,
    frame_idx)."""

    def rows(doc_id: int, vid: dict) -> Iterator[tuple]:
        for idx in range(0, len(vid["frames"]), AVI_SAMPLE_STRIDE):
            rgb = vid["frames"][idx]
            arr = np.frombuffer(rgb, dtype=np.uint8)
            yield (
                doc_id,
                idx,
                vid["width"],
                vid["height"],
                arr.size,
                int(arr.sum(dtype=np.int64)),
                hashlib.md5(rgb).hexdigest(),
            )

    return _decode_stage(df, AVI_FRAME_SCHEMA, rows)


# ---------------------------------------------------------------------------
# JPEG baseline codec (ITU T.81): pure-Python Huffman + numpy DCT
# ---------------------------------------------------------------------------

#: JPEG zigzag scan order (T.81 Figure 5): ZIGZAG[k] = raster index of
#: the k-th coefficient. Generated, not transcribed — diagonal s=r+c,
#: odd diagonals walk row-increasing, even diagonals row-decreasing.
_JPEG_ZIGZAG = [
    r * 8 + (s - r)
    for s in range(15)
    for r in (range(s + 1) if s % 2 else reversed(range(s + 1)))
    if r < 8 and s - r < 8
]

# Standard luminance Huffman tables (T.81 Annex K.3): BITS (count of
# codes per length 1..16) + HUFFVAL. The DECODER never depends on
# these — it builds its tables from the file's own DHT segments — so
# they only pin what our encoder emits.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
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
]


def _jpeg_dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: C[u,x] = c(u)/2 * cos((2x+1)uπ/16)
    with c(0)=1/√2. Forward: C·B·Cᵀ; inverse: Cᵀ·S·C. Cached — the
    fixture images are tiny, so per-call recompute showed up as ~6%
    of decode in profiling."""
    global _JPEG_DCT_CACHE
    if _JPEG_DCT_CACHE is None:
        x = np.arange(8)
        u = np.arange(8).reshape(8, 1)
        c = np.cos((2 * x + 1) * u * np.pi / 16) / 2
        c[0] /= np.sqrt(2)
        c.setflags(write=False)
        _JPEG_DCT_CACHE = c
    return _JPEG_DCT_CACHE


_JPEG_DCT_CACHE: np.ndarray | None = None


def _huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    """MSB-first bit packer with JPEG byte stuffing (0xFF -> 0xFF 0x00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            self.write(0xFF, 8 - self._n)  # pad with 1-bits per spec
        return bytes(self.out)


def _jpeg_category(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    cat = int(abs(v)).bit_length()
    return cat, v if v > 0 else v + (1 << cat) - 1


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    """JFIF RGB -> YCbCr, rounded to integers in [0, 255]; arr is
    (h, w, 3) float64."""
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(np.round(out), 0, 255)


#: Component sampling factors (h, v) per supported subsampling mode.
#: "444" carries full-resolution chroma; "422" halves chroma
#: horizontally; "420" halves it both ways (the overwhelmingly common
#: camera/libjpeg default — an MCU is 16x16 pixels: 4 Y blocks + Cb
#: + Cr).
_JPEG_SAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}

#: Lazily-built (dc, ac) canonical code maps for the constant Annex-K
#: tables the encoder emits.
_JPEG_ENC_CODES: tuple[dict, dict] | None = None


def encode_jpeg(
    raster: bytes,
    width: int,
    height: int,
    n_components: int = 1,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """Encode a raster as a baseline-DCT JFIF JPEG (SOF0).

    ``n_components=1``: ``raster`` is ``width*height`` grayscale
    bytes. ``n_components=3``: interleaved RGB, encoded as YCbCr with
    ``subsampling`` in {"444", "422", "420"} — chroma is box-averaged
    to the component resolution, blocks interleave per MCU in T.81
    A.2.3 order (all of a component's v x h data units row-major,
    components in SOF order). Quantization tables are ALL ONES, so
    the only loss is coefficient rounding (+ chroma averaging when
    subsampled) — and an image whose every MCU-sized tile is CONSTANT
    round-trips bit-exactly in any mode (the averaging is exact on
    constant tiles; the DC coefficient 8*(v-128) is an exact integer;
    every AC is 0), which is what lets a SQL oracle value-check the
    decoder. Standard Annex K luminance Huffman tables for every
    component; ``restart_interval`` > 0 emits DRI + RSTn markers.
    Fixture side of the photo codec pair.
    """
    import struct

    if len(raster) != width * height * n_components:
        raise ValueError(
            f"raster is {len(raster)} bytes; {width}x{height} with "
            f"{n_components} components needs "
            f"{width * height * n_components}"
        )
    if n_components not in (1, 3):
        raise ValueError(f"unsupported component count {n_components}")
    if subsampling not in _JPEG_SAMPLING:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    # grayscale is never subsampled; color takes the mode's factors
    factors = (
        ((1, 1),) if n_components == 1 else _JPEG_SAMPLING[subsampling]
    )
    arr = np.frombuffer(raster, dtype=np.uint8).astype(np.float64)
    if n_components == 3:
        planes = _rgb_to_ycbcr(arr.reshape(height, width, 3))
        planes = [planes[..., c] for c in range(3)]
    else:
        planes = [arr.reshape(height, width)]
    hmax = max(h for h, _ in factors)
    vmax = max(v for _, v in factors)
    mcu_cols, mcu_rows = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    cmat = _jpeg_dct_matrix()
    # Per-plane forward DCT over all blocks at once: pad by edge
    # replication to the MCU grid, box-average subsampled components
    # to their resolution, carve into (n_blocks, 8, 8) in the
    # component's own raster order, then one einsum per plane — the
    # numpy half of the codec; only entropy coding is
    # interpreter-side.
    comp_coefs = []
    for plane, (hi, vi) in zip(planes, factors):
        padded = np.pad(
            plane - 128.0,
            (
                (0, mcu_rows * vmax * 8 - height),
                (0, mcu_cols * hmax * 8 - width),
            ),
            mode="edge",
        )
        fy, fx = vmax // vi, hmax // hi
        rows_b, cols_b = mcu_rows * vi, mcu_cols * hi
        if fy > 1 or fx > 1:
            # integer box mean, rounded like a real encoder's chroma
            # downsample — exact whenever the box is constant
            padded = np.round(
                padded.reshape(rows_b * 8, fy, cols_b * 8, fx).mean(
                    axis=(1, 3)
                )
            )
        blocks = (
            padded.reshape(rows_b, 8, cols_b, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows_b * cols_b, 8, 8)
        )
        coefs = np.einsum("ux,nxy,vy->nuv", cmat, blocks, cmat)
        comp_coefs.append(
            np.round(coefs).astype(np.int64)  # quant table is all 1s
        )
    # the encoder always emits the Annex-K tables; build them once
    global _JPEG_ENC_CODES
    if _JPEG_ENC_CODES is None:
        _JPEG_ENC_CODES = (
            _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
            _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS),
        )
    dc_codes, ac_codes = _JPEG_ENC_CODES

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        [1] * 64
    )  # DQT: 8-bit table 0, all ones
    sof = struct.pack(">BHHB", 8, height, width, n_components)
    for cid in range(1, n_components + 1):
        hi, vi = factors[cid - 1]
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)  # qtbl 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for cls, bits, vals in (
        (0, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (1, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        body = bytes([cls << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([n_components])
    for cid in range(1, n_components + 1):
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"  # spectral selection 0..63, no approx
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    preds = [0] * n_components
    n_mcus = mcu_cols * mcu_rows
    rst = 0
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += writer.flush()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            writer = _BitWriter()
            preds = [0] * n_components
        mr, mc = divmod(mcu, mcu_cols)
        for ci in range(n_components):
            hi, vi = factors[ci]
            row_stride = mcu_cols * hi
            for bofs in range(vi * hi):
                by, bx = divmod(bofs, hi)
                bidx = (mr * vi + by) * row_stride + mc * hi + bx
                zz = [
                    int(comp_coefs[ci][bidx].ravel()[idx])
                    for idx in _JPEG_ZIGZAG
                ]
                diff = zz[0] - preds[ci]
                preds[ci] = zz[0]
                cat, val = _jpeg_category(diff)
                code, length = dc_codes[cat]
                writer.write(code, length)
                if cat:
                    writer.write(val, cat)
                run = 0
                for coef in zz[1:]:
                    if coef == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = ac_codes[0xF0]  # ZRL
                        writer.write(code, length)
                        run -= 16
                    cat, val = _jpeg_category(coef)
                    code, length = ac_codes[(run << 4) | cat]
                    writer.write(code, length)
                    writer.write(val, cat)
                    run = 0
                if run:
                    code, length = ac_codes[0x00]  # EOB
                    writer.write(code, length)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with byte
    de-stuffing; stops at any non-RST marker and exposes RST markers
    to the caller for predictor resets."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        b = self.data
        if self.pos >= len(b):
            raise ValueError("JPEG entropy data truncated")
        byte = b[self.pos]
        if byte == 0xFF:
            nxt = b[self.pos + 1] if self.pos + 1 < len(b) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            else:
                raise ValueError(
                    "marker inside entropy segment without restart"
                )
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | byte
        self._n += 8

    def read_bit(self) -> int:
        if not self._n:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker at the current byte position and
        drop any pending padding bits."""
        self._acc = 0
        self._n = 0
        b = self.data
        # T.81 B.1.1.2 applies here too: any run of 0xFF fill bytes
        # may precede the RSTn code (same rule as the header walk).
        while (
            self.pos + 1 < len(b)
            and b[self.pos] == 0xFF
            and b[self.pos + 1] == 0xFF
        ):
            self.pos += 1
        if (
            self.pos + 1 < len(b)
            and b[self.pos] == 0xFF
            and 0xD0 <= b[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError(
                f"expected restart marker at byte {self.pos}"
            )


def _huffman_decode_tree(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol map for canonical decoding.

    Memoized on the raw table bytes: real corpora reuse a handful of
    tables (usually the Annex-K set) across millions of images, and
    rebuilding the map per image was ~14% of decode time in
    profiling. Bounded cache so adversarial many-table inputs can't
    grow it without limit."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_TREE_CACHE.get(key)
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    if len(_HUFF_TREE_CACHE) >= 64:
        _HUFF_TREE_CACHE.clear()
    _HUFF_TREE_CACHE[key] = table
    return table


_HUFF_TREE_CACHE: dict[tuple[bytes, bytes], dict] = {}


def _read_huffman(reader: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _jpeg_extend(v: int, cat: int) -> int:
    """T.81 EXTEND: map ``cat`` received bits to a signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _decode_jpeg(b: bytes) -> dict:
    """Decode a baseline-DCT JPEG (SOF0): marker walk, DQT/DHT/DRI
    parse, per-MCU Huffman decode (pure Python), then one vectorized
    numpy dequantize + inverse-zigzag + IDCT over all blocks.
    Grayscale (1 component) and color (3 components, YCbCr -> RGB
    with JFIF rounding) at any integer-ratio sampling factors —
    4:4:4, 4:2:2, 4:2:0, and the rest of the T.81 1..4 range — are
    supported, with box-replication chroma upsampling; progressive
    (SOF2) and arithmetic-coded files raise ``ValueError``.
    Returns the PPM-shaped ``{width, height, maxval, pixels}`` —
    interleaved RGB for color, one byte per pixel for grayscale."""
    import struct

    if b[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: SOI missing, got {b[:2]!r}")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        # marker code — treat a run of 0xFF as one marker prefix
        # (ADVICE r07: spec-legal padded files were rejected here).
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(b):
            break
        marker = b[pos + 1]
        # Standalone markers carry NO length segment (T.81 B.1.1.3):
        # TEM (0x01) and RSTn (0xD0-0xD7) — reading a length here
        # would swallow arbitrary header bytes. Skip the bare marker.
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        seg = b[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError(f"truncated segment 0x{marker:02x}")
        if marker == 0xDB:  # DQT: one or more tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT: one or more tables
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                htables[(cls, tid)] = _huffman_decode_tree(bits, vals)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported component count {ncomp}")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(
                        f"sampling factors {hi}x{vi} out of T.81 range"
                    )
                comps.append((cid, hi, vi, tq))
            sof = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"only baseline SOF0 supported, got SOF 0x{marker:02x}"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: entropy data follows
            ns = seg[0]
            scan = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            pos = pos + 2 + seglen
            break
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if sof is None or scan is None:
        raise ValueError("missing SOF0 or SOS segment")
    width, height, comps = sof
    if len(scan) != len(comps):
        raise ValueError("SOS component count differs from SOF0")
    # Pair each SOS component with its SOF entry by COMPONENT ID, not
    # by position (ADVICE r07): T.81 identifies scan components by
    # Cs_j = C_i, and libjpeg-compatible robustness means decoding
    # files whose SOF/SOS component orders differ.
    sof_by_cid = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    if len(sof_by_cid) != len(comps):
        raise ValueError("duplicate component ids in SOF0")
    for cid, _dc, _ac in scan:
        if cid not in sof_by_cid:
            raise ValueError(
                f"SOS component id {cid} not declared in SOF0"
            )
    ncomp = len(comps)
    if ncomp == 1:
        # T.81 A.2.2: a single-component scan is non-interleaved —
        # the MCU is ONE data unit over the component's full-res
        # ceil(w/8) x ceil(h/8) grid, whatever factors SOF declares
        # (some encoders write 2x2 on grayscale).
        cid0 = comps[0][0]
        sof_by_cid[cid0] = (1, 1, sof_by_cid[cid0][2])
    hmax = max(hi for hi, _vi, _tq in sof_by_cid.values())
    vmax = max(vi for _hi, vi, _tq in sof_by_cid.values())
    mcu_cols = -(-width // (8 * hmax))
    mcu_rows = -(-height // (8 * vmax))
    n_mcus = mcu_cols * mcu_rows
    # One coef array per SCAN component, sized to that component's
    # padded block grid (mcu_rows*vi x mcu_cols*hi blocks).
    scan_factors = [sof_by_cid[cid][:2] for cid, _dc, _ac in scan]
    coefs = [
        np.zeros((mcu_rows * vi * mcu_cols * hi, 64), dtype=np.int64)
        for hi, vi in scan_factors
    ]
    reader = _BitReader(b, pos)
    preds = [0] * ncomp
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.sync_restart()
            preds = [0] * ncomp
        mr, mc = divmod(mcu, mcu_cols)
        for ci, (_cid, dc_t, ac_t) in enumerate(scan):
            dc_table = htables.get((0, dc_t))
            ac_table = htables.get((1, ac_t))
            if dc_table is None or ac_table is None:
                raise ValueError("scan references undefined DHT table")
            hi, vi = scan_factors[ci]
            for by in range(vi):
                for bx in range(hi):
                    bidx = (mr * vi + by) * (mcu_cols * hi) + (
                        mc * hi + bx
                    )
                    cat = _read_huffman(reader, dc_table)
                    diff = _jpeg_extend(reader.read_bits(cat), cat)
                    preds[ci] += diff
                    coefs[ci][bidx, 0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _read_huffman(reader, ac_table)
                        if rs == 0x00:  # EOB
                            break
                        run, size = rs >> 4, rs & 0x0F
                        if size == 0:
                            if run != 15:
                                raise ValueError(
                                    f"bad AC symbol 0x{rs:02x}"
                                )
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC run past end of block")
                        coefs[ci][bidx, k] = _jpeg_extend(
                            reader.read_bits(size), size
                        )
                        k += 1
    # Vectorized reconstruction: dequantize + inverse zigzag + IDCT
    # for every block of every component in one einsum, then
    # nearest-neighbor (box) upsample of subsampled components to
    # full resolution.
    cmat = _jpeg_dct_matrix()
    inv_zz = np.argsort(np.array(_JPEG_ZIGZAG))  # raster -> zigzag pos
    # Reconstruct in scan order (coefs is scan-indexed), dequantizing
    # with the id-matched SOF quant table; for color, planes are then
    # ordered by component id — JFIF assigns ids 1/2/3 to Y/Cb/Cr, so
    # id order is the YCbCr role order whatever the header order was.
    planes_by_cid = {}
    for ci, (cid, _dc_t, _ac_t) in enumerate(scan):
        hi, vi, tq = sof_by_cid[cid]
        if tq not in qtables:
            raise ValueError(f"component references missing DQT {tq}")
        if hmax % hi or vmax % vi:
            raise ValueError(
                f"non-integer upsampling ratio {hmax}/{hi} x {vmax}/{vi}"
            )
        deq = coefs[ci] * qtables[tq][np.newaxis, :]
        rows_b, cols_b = mcu_rows * vi, mcu_cols * hi
        blocks = deq[:, inv_zz].reshape(-1, 8, 8).astype(np.float64)
        spatial = np.einsum("ux,nuv,vy->nxy", cmat, blocks, cmat)
        grid = (
            spatial.reshape(rows_b, cols_b, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows_b * 8, cols_b * 8)
        )
        # Crop to the component's T.81 dims, replicate up to full
        # resolution, crop the padding the MCU grid added.
        comp_w = -(-width * hi // hmax)
        comp_h = -(-height * vi // vmax)
        grid = grid[:comp_h, :comp_w]
        if hmax // hi > 1 or vmax // vi > 1:
            grid = np.repeat(
                np.repeat(grid, vmax // vi, axis=0), hmax // hi, axis=1
            )
        planes_by_cid[cid] = grid[:height, :width] + 128.0
    if ncomp == 1:
        (only_plane,) = planes_by_cid.values()
        pixels = np.clip(np.round(only_plane), 0, 255).astype(np.uint8)
        return {
            "width": width,
            "height": height,
            "maxval": 255,
            "pixels": pixels.tobytes(),
        }
    y, cb, cr = (planes_by_cid[cid] for cid in sorted(planes_by_cid))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, bl], axis=-1)
    pixels = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return {
        "width": width,
        "height": height,
        "maxval": 255,
        "pixels": pixels.tobytes(),
    }


def _jpeg_fixture(doc_id: int, text: str) -> bytes:
    """Dimensions come from doc_id (1-3 blocks wide x 1-2 blocks high,
    i.e. 8-24 x 8-16 pixels) and every 8x8 block is CONSTANT gray:
    block ``i`` (row-major) carries the value of text byte ``i``
    (padded with 'x')."""
    wb = 1 + doc_id % 3
    hb = 1 + doc_id % 2
    nblocks = wb * hb
    raw = text[:120].encode("utf-8")[:nblocks].ljust(nblocks, b"x")
    vals = np.frombuffer(raw, dtype=np.uint8).reshape(hb, wb)
    raster = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    return encode_jpeg(raster.tobytes(), wb * 8, hb * 8)


def with_jpeg_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic baseline-JPEG payload (``_jpeg_fixture``)
    derived from the ``text`` column. After the lossy-in-general DCT
    round-trip the decode is EXACT (constant blocks quantize
    losslessly under the all-ones table), so every decoded statistic
    is SQL-derivable: pixel_byte_sum = 64 * sum(block bytes). The
    Spark side must survive a real Huffman encode -> decode ->
    dequantize -> IDCT round-trip to match the oracle."""
    return _with_encoded_payload(df, "image/jpeg", _jpeg_fixture)


def _png_fixture(doc_id: int, text: str) -> bytes:
    """Same raster rule as ``with_ppm_payload``: width 1-8 and height
    1-5 from doc_id, raster = text truncated/right-padded to w*h*3
    bytes."""
    w = 1 + doc_id % 8
    h = 1 + doc_id % 5
    raster = text[:120].encode("utf-8")[: w * h * 3].ljust(w * h * 3, b"x")
    return encode_png(raster, w, h)


def with_png_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic PNG payload (``_png_fixture``) derived from
    the ``text`` column. The SQL oracle re-derives every decoded
    statistic without a PNG decoder of its own: the Spark side must
    survive a REAL encode→decode round-trip (zlib deflate, scanline
    filters, CRCs) to reproduce numbers the oracle computes from the
    text directly.
    """
    return _with_encoded_payload(df, "image/png", _png_fixture)


def with_ppm_payload(df: DataFrame) -> DataFrame:
    """Attach a synthetic binary-PPM payload derived from the
    ``text`` column.

    Dimensions come from doc_id (width 1-8, height 1-5) and the raster
    is the document text truncated/right-padded to exactly w*h*3 bytes
    — all built with NATIVE column functions (concat/encode/rpad), so
    the payload construction itself is codegen-side and a SQL oracle
    can re-derive every decoded statistic integer-exactly. The corpus
    is ASCII, so char windows == byte windows on both engines.
    """
    w = F.lit(1) + F.pmod("doc_id", F.lit(8))
    h = F.lit(1) + F.pmod("doc_id", F.lit(5))
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "),
        h.cast("string"), F.lit("\n255\n"),
    )
    # rpad TRUNCATES past the target length, so the raster is exactly
    # w*h*3 bytes whether the text is long or short (max 8*5*3 = 120).
    raster = F.expr(
        "rpad(substring(text, 1, 120), "
        "(1 + pmod(doc_id, 8)) * (1 + pmod(doc_id, 5)) * 3, 'x')"
    )
    return _with_meta(
        df.withColumn(
            "payload",
            F.concat(F.encode(header, "utf-8"), F.encode(raster, "utf-8")),
        ),
        "image/x-portable-pixmap",
    )


#: Decode-stage output schema: integer-exact image statistics.
PPM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("maxval", T.IntegerType(), True),
        T.StructField("n_pixel_bytes", T.LongType(), True),
        T.StructField("pixel_byte_sum", T.LongType(), True),
        T.StructField("mean_pixel_value", T.DoubleType(), True),
    ]
)


def decode_image_features(df: DataFrame) -> DataFrame:
    """Decode stage: image payloads (PPM, PNG, JPEG — whatever
    ``decode_media`` dispatches on ``payload_meta.content_type``) → one
    row of raster statistics each."""

    def rows(doc_id: int, img: dict) -> Iterator[tuple]:
        n = len(img["pixels"])
        s = int(np.frombuffer(img["pixels"], dtype=np.uint8).sum(dtype=np.int64))
        # one exact int division — bit-identical on any engine
        yield (
            doc_id,
            img["width"],
            img["height"],
            img["maxval"],
            n,
            s,
            s / n if n else None,
        )

    return _decode_stage(df, PPM_SCHEMA, rows)


def fake_byte_features(pdf_iter: Iterator) -> Iterator:
    """Deterministic per-payload features (the decode stand-in).

    Arrow hands pandas batches; numpy computes per-row byte statistics
    vectorized-ish (the loop is per payload, as a real decoder's would
    be — decoding is inherently per-item; batching amortizes transfer).
    """
    for pdf in pdf_iter:
        out = {
            "doc_id": pdf["doc_id"],
            "n_bytes": [],
            "first_byte": [],
            "last_byte": [],
            "byte_sum_mod": [],
        }
        for payload in pdf["payload"]:
            # a NULL payload has NULL features, an empty one zero bytes
            b = b"" if payload is None else bytes(payload)
            out["n_bytes"].append(None if payload is None else len(b))
            out["first_byte"].append(b[0] if b else None)
            out["last_byte"].append(b[-1] if b else None)
            out["byte_sum_mod"].append(
                int(
                    np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64)
                )
                % 997
                if b
                else None
            )
        yield pd.DataFrame(out)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction stage: binary payloads → feature rows.

    ``mapInPandas`` so the exchange is Arrow record batches (no per-row
    Python overhead); the stage is narrow — it preserves partitioning,
    so no shuffle is introduced between scan and features.
    """
    return df.select("doc_id", "payload").mapInPandas(
        fake_byte_features, schema=FEATURE_SCHEMA
    )


def distinct_byte_count_col():
    """Vectorized scalar ``pandas_udf``: distinct byte values per payload.

    The third Python-boundary shape alongside ``mapInPandas`` (row
    expansion) and ``applyInPandasWithState`` (keyed state): a scalar
    column function that Spark calls with Arrow-batched Series — the
    drop-in slot for per-item model scoring (quality classifiers,
    perplexity filters) where the computation is a black box but the
    signature is column-in, column-out. Row-at-a-time ``F.udf`` would
    pay per-row (de)serialization; the pandas form amortizes it per
    batch.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _distinct_bytes(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda b: int(
                np.unique(np.frombuffer(bytes(b), np.uint8)).size
            )
            if b is not None
            else None
        ).astype("Int32")

    return _distinct_bytes


def resize_payload(df: DataFrame) -> DataFrame:
    """Resize stage: downsample each payload to ≤ ``RESIZE_TARGET_BYTES``.

    Deterministic stand-in for an image resize (no codecs in this
    container): keep every ⌈n/target⌉-th byte — a real implementation
    decodes, resizes, re-encodes inside the same ``mapInPandas`` body
    (see ``decode_media``). Output is the resized frame's contract
    columns only — (doc_id, payload, payload_meta, orig_bytes) — so
    stages that consume exactly the payload+metadata contract (the
    feature and frame stages) compose on top unchanged; other source
    columns must be re-joined on doc_id if needed.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("orig_bytes", T.IntegerType(), True),
        ]
    )

    def gen(pdf_iter: Iterator) -> Iterator:
        for pdf in pdf_iter:
            rows = {"doc_id": [], "payload": [], "orig_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rows["doc_id"].append(doc_id)
                if payload is None:
                    rows["payload"].append(None)
                    rows["orig_bytes"].append(None)
                    continue
                b = bytes(payload)
                step = max(1, -(-len(b) // RESIZE_TARGET_BYTES))
                rows["payload"].append(b[::step])
                rows["orig_bytes"].append(len(b))
            yield pd.DataFrame(rows)

    resized = df.select("doc_id", "payload").mapInPandas(
        gen, schema=out_schema
    )
    return _with_meta(resized, "application/x-thumb")


#: Tile-stats output schema: one row per raster tile.
TILE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tile_x", T.LongType(), False),
        T.StructField("tile_y", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("byte_sum", T.LongType(), False),
        T.StructField("byte_max", T.LongType(), False),
    ]
)


def ppm_tile_stats(df: DataFrame) -> DataFrame:
    """Tiled raster features: decode each PPM payload and emit one row
    per ``TILE_W``×``TILE_H``-pixel tile with its exact channel-byte
    sum and max — the patching step under vision preprocessing
    (ViT-style patch grids, tile-level quality/blur screens). Ragged
    edge tiles shrink, never pad. The image analog of
    ``wav_window_energy``: row expansion through Arrow, exact integer
    statistics, no shuffle."""

    def rows(doc_id: int, img: dict) -> Iterator[tuple]:
        w, h = img["width"], img["height"]
        # Vectorized tile reduction: the raster reshapes to (h, w, 3)
        # once and every tile is a numpy slice view — the loop is per
        # TILE (output row), never per sample. Ragged edge tiles are
        # just shorter slices.
        arr = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, 3)
        for ty in range(-(-h // TILE_H)):
            for tx in range(-(-w // TILE_W)):
                t = arr[
                    ty * TILE_H : (ty + 1) * TILE_H,
                    tx * TILE_W : (tx + 1) * TILE_W,
                ]
                yield (
                    doc_id,
                    tx,
                    ty,
                    t.shape[0] * t.shape[1],
                    int(t.sum(dtype=np.int64)),
                    int(t.max()),
                )

    return _decode_stage(df, TILE_SCHEMA, rows)


#: decode_media's dispatch table, built once at import (the function
#: runs once per ROW inside mapInPandas hot loops — review r09).
#: Defined at module end because the decoders are defined above; the
#: FLAC codec lives in ``functions/flac.py``.
_DECODERS = {
    "image/x-portable-pixmap": _decode_ppm,
    "image/png": _decode_png,
    "audio/wav": _decode_wav,
    "audio/flac": decode_flac,
    "image/gif": _decode_gif,
    "image/jpeg": _decode_jpeg,
    "video/x-msvideo": _decode_avi,
}
