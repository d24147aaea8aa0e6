"""Multimodal (image/audio/video) column handling for training-data pipelines.

Design: media is carried as an opaque ``binary`` column plus typed metadata
(SURVEY-level requirement for the 100 TB pipeline).  Decode / feature
extraction runs as Arrow-batched ``mapInPandas`` — the only sanctioned
Python hot path — so each task decodes a batch of blobs without JVM
round-trips per row.

Codec selection is EXPLICIT (``codec=``), never environment-inferred:
``"ppm"`` is a pure-stdlib binary-PPM/PGM pixel decode (the real branch,
hermetic in any container), ``"pil"`` decodes real JPEG/PNG via Pillow
(raises cleanly when absent), and ``"fake"`` is a deterministic
content-derived stand-in that exercises the full Spark plumbing —
schema, batching, partitioning, UDF signature — with no codec at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: canonical media-table schema: blob + typed metadata
MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("mime", StringType(), True),
    StructField("blob", BinaryType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_bytes", IntegerType(), True),
])

#: decode output: per-media feature record
FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("feat_dim", IntegerType(), False),
    StructField("feat_hash", StringType(), False),  # fingerprint of features
    StructField("decode_status", StringType(), False),
])

#: decode output when the RAW feature bytes are needed downstream (e.g. the
#: q140 perceptual-hash dedup reads the 8×8 luma thumbnail itself)
FEATURE_VEC_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("features", BinaryType(), True),    # None on corrupt/empty
    StructField("decode_status", StringType(), False),
])


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


#: optional Spark accumulator observing decode volume — set by tests and
#: the at-rest fingerprint store's zero-decode-on-warm-run gate; every
#: decode_media stage adds its INPUT row count per Arrow batch
_DECODE_COUNTER = None


def decode_media(
    media: DataFrame, codec: str | None = None, batch_limit: int = 256,
    emit_features: bool = False,
) -> DataFrame:
    """Decode/feature-extract media blobs via Arrow-batched ``mapInPandas``.

    ``codec`` is an EXPLICIT choice, never environment-inferred (ADVICE r5:
    driver-side importability deciding the path meant the same call could
    yield different feat_hash semantics per environment, and a worker
    without the library died with a raw task ImportError):

    - ``"ppm"`` — pure-stdlib binary PPM(P6)/PGM(P5) decode: pixels →
      integer ITU-R 601 luminance → 8×8 box-average thumbnail → 64 values,
      sha256-fingerprinted.  REAL pixel decode with zero dependencies —
      runs hermetically in this container and on any cluster.
    - ``"pil"`` — PIL decode of real JPEG/PNG to the same 8×8 luminance
      feature shape.  Raises NotImplementedError immediately when PIL is
      not importable on the driver; choosing it asserts the cluster's
      workers have Pillow too.
    - ``"wav"`` — pure-stdlib ``wave``-module PCM decode (8/16-bit,
      any channel count): samples → integer mono mixdown → 64-bin
      |amplitude| envelope scaled to 0..255, sha256-fingerprinted.  The
      real hermetic branch for the ``audio`` kind the schema advertises
      (round-6 verdict #4) — same corrupt-isolation contract as 'ppm'.
    - ``"y4m"`` — pure-stdlib YUV4MPEG2 parse (uncompressed video): the
      FIRST frame's luma plane → the same 8×8 integer box-average
      thumbnail as 'ppm'.  The real hermetic branch for the ``video``
      kind; combine with ``frame_sample_plan`` to pick which frames a
      full pipeline decodes.
    - ``"fake"`` — deterministic content-derived stand-in (blob sha256);
      exercises the full Spark plumbing with no codec at all.

    Undecodable blobs come back ``decode_status='corrupt'`` rather than
    failing the task (one bad file must not kill a 100 TB scan).

    Scale notes: ``mapInPandas`` streams Arrow record batches — blobs never
    materialize on the driver; repartition upstream by size so one task's
    batches fit executor memory (blobs dominate row width).
    """
    if codec not in ("ppm", "pil", "wav", "y4m", "fake"):
        raise ValueError(
            "decode_media requires an explicit codec= of 'ppm' (stdlib "
            "real image decode), 'wav' (stdlib real audio decode), 'y4m' "
            "(stdlib real video decode), 'pil' (JPEG/PNG via Pillow), or "
            "'fake' (deterministic stand-in)"
        )
    if codec == "pil" and not _pil_available():
        raise NotImplementedError(
            "codec='pil' but PIL is not importable on the driver; install "
            "Pillow on driver AND workers, or use codec='ppm' (stdlib) / "
            "codec='fake'"
        )

    counter = _DECODE_COUNTER   # captured as a LOCAL so the closure stays
    # free of cosmo_spark module references (accumulators pickle by value)

    # self-contained closure: no references to cosmo_spark module globals, so
    # cloudpickle ships it by value and workers need no package install
    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        if codec == "pil":
            import io as _io

            import PIL.Image as _Image  # workers need Pillow too

        def _ppm_luma8x8(raw: bytes) -> bytes | None:
            """Binary PPM/PGM → 64-byte 8×8 luminance thumbnail, integer
            arithmetic only (whitespace/comment-insensitive: the features
            depend on PIXELS, not on header byte spelling)."""
            import numpy as _np

            # header: magic, width, height, maxval tokens; '#' comments
            pos, toks = 0, []
            while len(toks) < 4 and pos < len(raw):
                c = raw[pos:pos + 1]
                if c.isspace():
                    pos += 1
                elif c == b"#":
                    pos = raw.find(b"\n", pos)
                    if pos < 0:
                        return None
                else:
                    end = pos
                    while end < len(raw) and not raw[end:end + 1].isspace():
                        end += 1
                    toks.append(raw[pos:end])
                    pos = end
            if len(toks) < 4 or toks[0] not in (b"P5", b"P6"):
                return None
            try:
                w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
            except ValueError:
                return None
            if w <= 0 or h <= 0 or not (0 < maxval < 256):
                return None
            # exactly one whitespace terminates the header — validate it
            # (a non-whitespace byte here is a malformed header -> corrupt,
            # not a silent one-byte-early raster read), and treat a CRLF
            # pair as ONE terminator: a PPM written with '255\r\n' intends
            # the raster after the '\n' (ADVICE r6: the old unconditional
            # pos += 1 produced garbage features with decode_status='ok')
            sep = raw[pos:pos + 1]
            if not sep.isspace():
                return None
            if sep == b"\r" and raw[pos + 1:pos + 2] == b"\n":
                pos += 2
            else:
                pos += 1
            ch = 3 if toks[0] == b"P6" else 1
            need = w * h * ch
            px = _np.frombuffer(raw, dtype=_np.uint8, count=-1, offset=pos)
            if px.size < need:
                return None
            px = px[:need].astype(_np.int64)
            if ch == 3:
                px = px.reshape(h, w, 3)
                lum = (299 * px[:, :, 0] + 587 * px[:, :, 1]
                       + 114 * px[:, :, 2]) // 1000
            else:
                lum = px.reshape(h, w)
            return _box8(lum, w, h)

        def _box8(lum, w: int, h: int) -> bytes:
            """8×8 integer box-average thumbnail of a luminance plane —
            shared by the PPM and Y4M decoders."""
            import numpy as _np

            if w == 8 and h == 8:
                # every block is exactly one pixel (r0=i, r1=i+1, c0=j,
                # c1=j+1): the thumbnail IS the plane — skip the 64
                # python-level slice/sum rounds (the dominant per-row cost
                # of the decode stage on thumbnail-sized media)
                return _np.ascontiguousarray(
                    lum, dtype=_np.uint8
                ).tobytes()
            out = bytearray(64)
            for i in range(8):
                r0, r1 = i * h // 8, max(i * h // 8 + 1, (i + 1) * h // 8)
                for j in range(8):
                    c0 = j * w // 8
                    c1 = max(c0 + 1, (j + 1) * w // 8)
                    blk = lum[r0:r1, c0:c1]
                    out[i * 8 + j] = int(blk.sum()) // blk.size
            return bytes(out)

        def _y4m_luma8x8(raw: bytes) -> bytes | None:
            """YUV4MPEG2 → 64-byte 8×8 thumbnail of the FIRST frame's luma
            plane (the Y of planar YCbCr is already ITU-R luminance, so
            this matches the PPM feature space byte-for-byte)."""
            import numpy as _np

            nl = raw.find(b"\n")
            if nl < 0:
                return None
            head = raw[:nl].split(b" ")
            if not head or head[0] != b"YUV4MPEG2":
                return None
            w = h = None
            for tok in head[1:]:
                try:
                    if tok[:1] == b"W":
                        w = int(tok[1:])
                    elif tok[:1] == b"H":
                        h = int(tok[1:])
                except ValueError:
                    return None
            if not w or not h or w <= 0 or h <= 0:
                return None
            pos = nl + 1
            if raw[pos:pos + 5] != b"FRAME":
                return None
            fnl = raw.find(b"\n", pos)
            if fnl < 0:
                return None
            pos = fnl + 1
            need = w * h  # luma plane only; chroma follows, unused here
            y = _np.frombuffer(raw, dtype=_np.uint8, count=-1, offset=pos)
            if y.size < need:
                return None
            return _box8(y[:need].astype(_np.int64).reshape(h, w), w, h)

        def _wav_env64(raw: bytes) -> bytes | None:
            """WAV PCM → 64-byte |amplitude| envelope (0..255), integer
            arithmetic only: stdlib wave parse, int mono mixdown, 64
            equal-time bins of mean absolute amplitude scaled by the
            sample type's full range."""
            import io as _io
            import wave as _wave

            import numpy as _np

            try:
                with _wave.open(_io.BytesIO(raw)) as wv:
                    nch = wv.getnchannels()
                    sw = wv.getsampwidth()
                    nf = wv.getnframes()
                    data = wv.readframes(nf)
            except Exception:
                return None
            if nf <= 0 or nch <= 0 or sw not in (1, 2):
                return None
            if sw == 1:  # 8-bit WAV is unsigned, centered at 128
                a = _np.frombuffer(data, _np.uint8).astype(_np.int64) - 128
                full = 127
            else:  # 16-bit little-endian signed
                a = _np.frombuffer(data, "<i2").astype(_np.int64)
                full = 32767
            if a.size < nf * nch:
                return None
            mono = a[: nf * nch].reshape(-1, nch).sum(axis=1) // nch
            n = mono.size
            amp = _np.abs(mono)
            if n == 64:
                # one sample per bin (s0=i, s1=i+1): vectorize the exact
                # per-bin formula — min(255, amp[i] * 255 // full)
                return _np.minimum(
                    255, amp * 255 // full
                ).astype(_np.uint8).tobytes()
            out = bytearray(64)
            for i in range(64):
                s0 = i * n // 64
                s1 = max(s0 + 1, (i + 1) * n // 64)
                blk = amp[s0:s1]
                out[i] = min(255, (int(blk.sum()) // blk.size) * 255 // full)
            return bytes(out)

        for pdf in batches:
            if counter is not None:
                counter.add(len(pdf))
            if emit_features:
                out = {"media_id": [], "features": [], "decode_status": []}
            else:
                out = {
                    "media_id": [], "feat_dim": [], "feat_hash": [],
                    "decode_status": [],
                }
            for media_id, blob in zip(pdf["media_id"], pdf["blob"]):
                feats = None
                if blob is None or len(blob) == 0:
                    dim, h, status = 0, "", "empty"
                elif codec == "pil":
                    try:
                        img = _Image.open(_io.BytesIO(bytes(blob)))
                        thumb = img.convert("L").resize((8, 8))
                        feats = bytes(thumb.getdata())
                        dim = len(feats)
                        h = _hashlib.sha256(feats).hexdigest()[:16]
                        status = "ok"
                    except Exception:
                        dim, h, status = 0, "", "corrupt"
                elif codec in ("ppm", "wav", "y4m"):
                    decode = {"ppm": _ppm_luma8x8, "wav": _wav_env64,
                              "y4m": _y4m_luma8x8}[codec]
                    feats = decode(bytes(blob))
                    if feats is None:
                        dim, h, status = 0, "", "corrupt"
                    else:
                        dim = len(feats)
                        h = _hashlib.sha256(feats).hexdigest()[:16]
                        status = "ok"
                else:
                    feats = _hashlib.sha256(bytes(blob)).digest()[:16]
                    dim = 64
                    h = _hashlib.sha256(bytes(blob)).hexdigest()[:16]
                    status = "ok"
                out["media_id"].append(media_id)
                if emit_features:
                    out["features"].append(feats)
                    out["decode_status"].append(status)
                else:
                    out["feat_dim"].append(dim)
                    out["feat_hash"].append(h)
                    out["decode_status"].append(status)
            yield _pd.DataFrame(out)

    return media.select("media_id", "blob").mapInPandas(
        decode_batches,
        schema=FEATURE_VEC_SCHEMA if emit_features else FEATURE_SCHEMA,
    )


#: all 256 two-hex-digit byte spellings, one 512-char literal — the byte
#: encoder below indexes it with substring() instead of calling
#: format_string('%02X') per byte (java.util.Formatter per call measured
#: as the dominant cost of the whole JVM-side encode at 64 bytes/row)
_HEX_PAIRS = "".join(f"{i:02X}" for i in range(256))


def _encode_quantized(
    df: DataFrame, vec_col: str, id_col: str, header: bytes
) -> DataFrame:
    """Shared JVM-side media builder: a constant header literal followed
    by 64 quantized payload bytes.  Quantization is the integer rule both
    the Spark pipelines and the DuckDB oracles compute: ``clamp(floor((x +
    0.5) * 256), 0, 255)`` — IEEE double arithmetic identical in both
    engines, so decoded features are bit-equal to an oracle that never
    touches a codec.  Each byte's hex spelling is a substring() lookup
    into one 512-char literal and the 64 pairs collapse through a single
    ``unhex`` (byte-identical to the per-byte ``format_string('%02X')``
    formulation it replaces, at a fraction of the per-row cost).
    Returns (media_id STRING, blob BINARY)."""
    v = F.col(vec_col)

    def hexpair(j: int):
        # clamp in the BIGINT domain like the oracle's _PX_QUANT: a cast
        # to int before clamping would WRAP an out-of-range component
        # (|x| ~ 2^23+) in the non-ANSI narrowing and diverge (r8 advice)
        q = F.floor(
            (F.element_at(v, j + 1).cast("double") + F.lit(0.5)) * 256
        ).cast("bigint")
        clamped = F.least(
            F.lit(255).cast("bigint"),
            F.greatest(F.lit(0).cast("bigint"), q),
        ).cast("int")
        return F.substring(F.lit(_HEX_PAIRS), clamped * 2 + 1, F.lit(2))

    blob = F.concat(
        F.lit(header),
        F.unhex(F.concat(*[hexpair(j) for j in range(64)])),
    )
    return df.select(
        F.col(id_col).cast("string").alias("media_id"), blob.alias("blob")
    )


def encode_pgm_gray8x8(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """64-component vector → binary PGM(P5) 8×8 grayscale blob — the
    encode half of the image roundtrip q140 gates end-to-end against
    ``decode_media(codec='ppm')``."""
    return _encode_quantized(df, vec_col, id_col, b"P5 8 8 255\n")


def encode_wav_pcm8(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """64-component vector → 8-bit PCM mono WAV blob (canonical 44-byte
    RIFF header, all fields constant for 64 samples @ 8 kHz) — the audio
    roundtrip q141 gates against ``decode_media(codec='wav')``."""
    import struct

    header = (
        b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 64)
    )
    return _encode_quantized(df, vec_col, id_col, header)


def encode_y4m_gray8x8(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """64-component vector → single-frame YUV4MPEG2 blob (stream header +
    FRAME marker + 8×8 luma plane; the Y plane IS the PGM pixel space) —
    the video roundtrip q142 gates against ``decode_media(codec='y4m')``."""
    return _encode_quantized(
        df, vec_col, id_col, b"YUV4MPEG2 W8 H8 F25:1\nFRAME\n"
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_idx) to
    decode, derived from metadata only — the expensive decode fans out over
    this plan, so sampling never touches blobs it will not keep."""
    n_frames = (F.col("n_bytes") / 1024).cast("int")  # stand-in frame count
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
            ).alias("frame_idx"),
        )
    )
