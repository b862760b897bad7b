"""Multimodal column plumbing (image/audio/video as opaque binary).

Training-data-pipeline addition: media travels as ``binary`` columns
with a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages.

Decode is REAL for PNG, WAV, and baseline JPEG — pure stdlib/NumPy
codecs (functions/codecs.py, functions/jpeg.py) since the container
ships no Pillow/soundfile — and stubbed for MP4 frames and
progressive JPEG (``mode='fake'`` produces sha256-seeded
deterministic features; ``mode='strict'`` raises where a real codec
call would go; the default ``mode='auto'`` decodes what it can and
falls back to the deterministic fake).

Batch-shape contract: every stage is ``iterator[pd.DataFrame] →
iterator[pd.DataFrame]`` so Spark streams Arrow batches without
materializing a partition in memory — required at 100 TB where a
partition of videos exceeds RAM.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_metadata",
    "extract_features",
    "resize_images",
    "sample_frames",
]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)


def attach_media_metadata(
    df: DataFrame, binary_col: str = "media", meta_col: str = "media_meta"
) -> DataFrame:
    """Derive cheap metadata without decoding: size + magic-byte format
    sniffing — pure JVM expressions over the binary column. PNG
    width/height come straight from the IHDR chunk (big-endian u32 at
    fixed offsets 17/21 — no inflate needed); JPEG width/height from a
    bounded SOFn segment walk (baseline SOF0 through progressive SOF2
    and the rarer SOFn variants)."""
    b = F.col(binary_col)
    head = F.hex(F.substring(b, 1, 4))
    fmt = (
        F.when(head.startswith("89504E47"), "png")
        .when(head.startswith("FFD8"), "jpg")
        .when(head.startswith("52494646"), "wav")
        # any ISO-BMFF: 4-byte box size then 'ftyp' (size varies by brand)
        .when(F.substring(b, 5, 4).cast("string") == "ftyp", "mp4")
        .otherwise("unknown")
    )
    media_type = (
        F.when(fmt.isin("png", "jpg"), "image")
        .when(fmt == "wav", "audio")
        .when(fmt == "mp4", "video")
        .otherwise("unknown")
    )

    def _be32(offset: int):
        return F.conv(F.hex(F.substring(b, offset, 4)), 16, 10).cast("int")

    def _be16(pos):  # 1-based dynamic position
        return F.conv(F.hex(F.substring(b, pos, 2)), 16, 10).cast("int")

    def _byte(pos):
        return F.conv(F.hex(F.substring(b, pos, 1)), 16, 10).cast("int")

    # JPEG SOFn frame header walk (ISO/IEC 10918 marker layout):
    # segments are [FF][marker][len_be16][payload]; the SOF payload is
    # [precision][height_be16][width_be16]. A bounded fold steps
    # segment-to-segment from offset 3 (after FFD8) until SOF, SOS
    # (entropy data — stop), or 32 segments. JVM-side as requested:
    # the per-step state is O(1) (pos,w,h), evaluated only on jpg rows
    # in the metadata path, so the interpreted HOF is off the per-byte
    # hot path. Best-effort by design: inter-segment FF fill bytes or
    # >32 header segments yield NULL dims, never an error.
    _SOF_MARKERS = [
        0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
    ]
    _jpeg_init = F.struct(
        F.lit(3).cast("int").alias("pos"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
    )

    def _jpeg_step(acc, _i):
        p = acc["pos"]
        m1, m2 = _byte(p), _byte(p + 1)
        stop = (
            acc["w"].isNotNull()
            | (p + 8 > F.length(b))
            | (m1 != 0xFF)
            | (m2 == 0xDA)
        )
        found = F.struct(
            p.alias("pos"), _be16(p + 7).alias("w"), _be16(p + 5).alias("h")
        )
        advance = F.struct(
            (p + 2 + _be16(p + 2)).cast("int").alias("pos"),
            acc["w"].alias("w"),
            acc["h"].alias("h"),
        )
        return F.when(stop, acc).otherwise(
            F.when(m2.isin(_SOF_MARKERS), found).otherwise(advance)
        )

    jpeg_dims = F.aggregate(
        F.sequence(F.lit(1), F.lit(32)), _jpeg_init, _jpeg_step
    )

    # WAV duration from the canonical RIFF layout the wave module
    # writes (fmt_ chunk at offset 13 with size 16, data chunk at 37):
    # duration_ms = data_size * 1000 / byte_rate. Non-canonical chunk
    # orders (LIST/fact before data) yield NULL — best-effort metadata,
    # never an error.
    def _le32(pos: int):
        return (
            _byte(F.lit(pos))
            + _byte(F.lit(pos + 1)) * 256
            + _byte(F.lit(pos + 2)) * 65536
            + _byte(F.lit(pos + 3)) * 16777216
        ).cast("long")

    wav_canonical = (
        head.startswith("52494646")
        & (F.length(b) >= 44)
        & (F.substring(b, 13, 4).cast("string") == "fmt ")
        & (F.substring(b, 37, 4).cast("string") == "data")
        & (_le32(29) > 0)
    )
    wav_dur = F.when(
        wav_canonical, (_le32(41) * 1000 / _le32(29)).cast("long")
    )

    # MP4 duration from moov/mvhd (ISO/IEC 14496-12 box layout):
    # bounded top-level box walk to moov, whose first child is mvhd in
    # canonical muxer output; duration_ms = duration * 1000 / timescale
    # (mvhd v0: timescale/duration be32 at box+20/+24; v1: be64
    # duration at +32 after 64-bit times). Non-first-child mvhd → NULL.
    def _be32_at(pos):
        return F.conv(F.hex(F.substring(b, pos, 4)), 16, 10).cast("long")

    def _be64_at(pos):
        return F.conv(F.hex(F.substring(b, pos, 8)), 16, 10).cast("long")

    _mp4_init = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(None).cast("long").alias("moov"),
    )

    def _mp4_step(acc, _i):
        p = acc["pos"]
        size = _be32_at(p)
        btype = F.substring(b, p + 4, 4).cast("string")
        stop = acc["moov"].isNotNull() | (p + 8 > F.length(b)) | (size < 8)
        found = F.struct(p.alias("pos"), p.alias("moov"))
        advance = F.struct((p + size).alias("pos"), acc["moov"].alias("moov"))
        return F.when(stop, acc).otherwise(
            F.when(btype == "moov", found).otherwise(advance)
        )

    moov_pos = F.aggregate(
        F.sequence(F.lit(1), F.lit(16)), _mp4_init, _mp4_step
    )["moov"]

    _c = moov_pos + 8  # moov's first child (mvhd in canonical output)
    _is_mvhd = F.substring(b, _c + 4, 4).cast("string") == "mvhd"
    _mvhd_v1 = _byte(_c + 8) == 1
    _ts = F.when(_mvhd_v1, _be32_at(_c + 28)).otherwise(_be32_at(_c + 20))
    _dur_units = F.when(_mvhd_v1, _be64_at(_c + 32)).otherwise(_be32_at(_c + 24))
    mp4_dur = F.when(
        moov_pos.isNotNull() & _is_mvhd & (_ts > 0),
        (_dur_units * 1000 / _ts).cast("long"),
    )

    # MP4 track dims from trak/tkhd (14496-12 §8.3.2): walk moov's
    # children (bounded 8 boxes) to the first trak whose first child is
    # tkhd with a non-zero width — audio traks carry width 0 and are
    # skipped. width/height are 16.16 fixed point; the integer part is
    # the leading be16 (v0 at box+84/+88; v1's 64-bit times shift it to
    # +96/+100). Non-first-child tkhd → NULL, best-effort like mvhd.
    _trak_init = F.struct(
        _c.alias("pos"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
    )
    _moov_end = moov_pos + _be32_at(moov_pos)

    def _trak_step(acc, _i):
        p = acc["pos"]
        size = _be32_at(p)
        btype = F.substring(b, p + 4, 4).cast("string")
        stop = (
            p.isNull()
            | acc["w"].isNotNull()
            | (p + 8 > _moov_end)
            | (p + 8 > F.length(b))
            | (size < 8)
        )
        t = p + 8  # trak's first child box
        is_tkhd = F.substring(b, t + 4, 4).cast("string") == "tkhd"
        tv1 = _byte(t + 8) == 1
        w_ = F.when(tv1, _be16(t + 96)).otherwise(_be16(t + 84))
        h_ = F.when(tv1, _be16(t + 100)).otherwise(_be16(t + 88))
        hit = (btype == "trak") & is_tkhd & w_.isNotNull() & (w_ > 0)
        found = F.struct(p.alias("pos"), w_.alias("w"), h_.alias("h"))
        advance = F.struct(
            (p + size).alias("pos"), acc["w"].alias("w"), acc["h"].alias("h")
        )
        return F.when(stop, acc).otherwise(F.when(hit, found).otherwise(advance))

    trak_dims = F.aggregate(
        F.sequence(F.lit(1), F.lit(8)), _trak_init, _trak_step
    )

    is_png = head.startswith("89504E47") & (F.length(b) >= 24)
    is_jpg = head.startswith("FFD8")
    width = (
        F.when(is_png, _be32(17))
        .when(is_jpg, jpeg_dims["w"])
        .when(fmt == "mp4", trak_dims["w"])
        .otherwise(F.lit(None).cast("int"))
    )
    height = (
        F.when(is_png, _be32(21))
        .when(is_jpg, jpeg_dims["h"])
        .when(fmt == "mp4", trak_dims["h"])
        .otherwise(F.lit(None).cast("int"))
    )
    return df.withColumn(
        meta_col,
        F.struct(
            media_type.alias("media_type"),
            fmt.alias("format"),
            width.alias("width"),
            height.alias("height"),
            F.when(fmt == "wav", wav_dur)
            .when(fmt == "mp4", mp4_dur)
            .otherwise(F.lit(None).cast("long"))
            .alias("duration_ms"),
            F.length(b).cast("long").alias("size_bytes"),
        ),
    )


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic fake embedding: sha256-seeded values in [-1, 1).
    Stands in for a real encoder; same bytes → same vector."""
    out = []
    h = payload or b""
    i = 0
    while len(out) < dim:
        d = hashlib.sha256(h + i.to_bytes(4, "big")).digest()
        for j in range(0, 32, 4):
            if len(out) >= dim:
                break
            v = int.from_bytes(d[j : j + 4], "big")
            out.append((v / 2**31) - 1.0)
        i += 1
    return out


def _real_feature(
    payload: bytes, dim: int, audio_feature: str = "rms"
) -> list[float] | None:
    """Decode PNG/baseline-JPEG/WAV and produce a dim-length signal
    vector: images → block-mean grayscale thumbnail in [-1, 1);
    audio  → per-window RMS energy in [0, 1], or log band-energy
    spectrum when ``audio_feature='spectral'``. None if undecodable."""
    from ..functions import codecs
    from ..functions import jpeg as jpeg_codec

    try:
        if payload.startswith(b"\x89PNG") or payload.startswith(b"\xff\xd8"):
            if payload.startswith(b"\x89PNG"):
                img = codecs.decode_png(payload)
            else:  # baseline JPEG decodes natively (functions/jpeg.py);
                # progressive falls back to the DC-only 1/8 thumbnail —
                # plenty for a dim-length block-mean feature vector
                img = jpeg_codec.decode_jpeg_any(payload)
            gray = img[:, :, :3].mean(axis=2) if img.shape[2] >= 3 else (
                img[:, :, 0].astype(np.float64)
            )
            side = max(int(np.ceil(np.sqrt(dim))), 1)
            thumb = codecs.resize_block_mean(gray.astype(np.uint8), side, side)
            flat = thumb[:, :, 0].astype(np.float64).reshape(-1)[:dim]
            vec = (flat / 127.5) - 1.0
        elif payload.startswith(b"RIFF"):
            samples, _rate = codecs.decode_wav(payload)
            mono = samples.astype(np.float64).mean(axis=1)
            if len(mono) == 0:
                return [0.0] * dim
            if audio_feature == "spectral":
                # log band-energy spectrum: rFFT magnitude split into
                # dim equal bands, log-compressed, bounded to ~[0, 1]
                spec = np.abs(np.fft.rfft(mono))
                bands = np.array_split(spec, dim)
                vec = np.array(
                    [np.log1p(b.mean()) if len(b) else 0.0 for b in bands]
                ) / np.log1p(32768.0 * max(len(mono), 1))
            else:  # 'rms'
                windows = np.array_split(mono, dim)
                vec = np.array(
                    [
                        np.sqrt(np.mean(w**2)) / 32768.0 if len(w) else 0.0
                        for w in windows
                    ]
                )
        else:
            return None
        out = np.zeros(dim)
        out[: len(vec)] = vec[:dim]
        return out.tolist()
    except Exception:  # corrupt media row → undecodable, never job-fatal
        return None


def extract_features(
    df: DataFrame,
    binary_col: str = "media",
    dest: str = "features",
    dim: int = 16,
    mode: str = "auto",
    audio_feature: str = "rms",
) -> DataFrame:
    """Feature extraction over Arrow batches (mapInPandas).

    ``mode``: 'auto' (real decode for PNG/baseline-JPEG/WAV,
    deterministic fake for formats without a codec here), 'real'
    (undecodable → NULL), 'fake' (always the sha256 fake), 'strict'
    (raise on undecodable — the old NotImplementedError site).

    ``audio_feature``: 'rms' (per-window RMS energy) or 'spectral'
    (rFFT log band-energy spectrum) for WAV rows.
    """
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(dest, T.ArrayType(T.DoubleType()))]
    )

    def one(b) -> list[float] | None:
        payload = bytes(b) if b is not None else b""
        if mode == "fake":
            return _fake_feature(payload, dim)
        real = _real_feature(payload, dim, audio_feature)
        if real is not None:
            return real
        if mode == "auto":
            return _fake_feature(payload, dim)
        if mode == "strict":
            raise NotImplementedError(
                "no codec for this media format in this environment "
                "(PNG, baseline JPEG, progressive-JPEG DC thumbnails, "
                "and WAV decode natively; MP4 pixels need ffmpeg)"
            )
        return None  # mode == 'real'

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[dest] = pdf[binary_col].map(one)
            yield pdf

    return df.mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    binary_col: str = "media",
    dest: str = "resized",
    height: int = 64,
    width: int = 64,
) -> DataFrame:
    """Decode PNG/baseline-JPEG (progressive JPEG via the DC-only 1/8
    thumbnail) → block-mean resize → re-encode PNG, streamed over
    Arrow batches. Undecodable rows (other formats, corrupt bytes)
    yield NULL, never job-fatal."""
    from ..functions import codecs
    from ..functions import jpeg as jpeg_codec

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(dest, T.BinaryType())]
    )

    def one(b):
        payload = bytes(b) if b is not None else b""
        try:
            if payload.startswith(b"\x89PNG"):
                img = codecs.decode_png(payload)
            elif payload.startswith(b"\xff\xd8"):
                # progressive → DC-only 1/8-scale source: real pixels
                # (block means), then block-mean resize
                img = jpeg_codec.decode_jpeg_any(payload)
            else:
                return None
            return codecs.encode_png(codecs.resize_block_mean(img, height, width))
        except Exception:  # corrupt media row (zlib/struct/index errors
            return None  # included) → NULL, never job-fatal

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[dest] = pdf[binary_col].map(one)
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    binary_col: str = "media",
    dest: str = "frames",
    n_frames: int = 4,
) -> DataFrame:
    """Frame sampling for video columns: emits an array of per-frame
    binary payloads (fake: deterministic byte slices — no video codec
    ships in this container). Shows the explode-ready array-of-binary
    contract."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(dest, T.ArrayType(T.BinaryType()))]
    )

    def fake_frames(b):
        raw = bytes(b) if b is not None else b""
        step = max(len(raw) // n_frames, 1)
        return [
            hashlib.sha256(raw[i * step : (i + 1) * step]).digest()
            for i in range(n_frames)
        ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[dest] = pdf[binary_col].map(fake_frames)
            yield pdf

    return df.mapInPandas(run, out_schema)
