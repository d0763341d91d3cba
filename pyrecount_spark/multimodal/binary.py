"""Multimodal column plumbing (SURVEY.md §2.10): binary payloads + metadata.

Generalizes the reference's BigWig manifest pattern (Q6, accessor.py:585-610
— catalog the files, never parse them inline) to the training-data shape:
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
pandas iterators (``mapInPandas``) so bytes cross the JVM↔Python boundary
in columnar batches, never row-at-a-time.

Image decode probes codecs **at runtime on the executor**, in order:
Pillow when importable (production throughput) → the pure-stdlib decoders
in ``multimodal.codecs`` (PNG / PPM / BMP real-pixel
decode, WAV via the stdlib ``wave`` module — genuinely executable on
codec-less containers) → a deterministic content-hash fake for payloads
outside both envelopes.
The probe lives inside the nested UDF body so cloudpickle ships
everything by value; payloads that aren't decodable media (e.g. the text
bytes the test oracles use) fall to the fake on every path, so results
are identical on PIL-less and PIL-ful clusters for non-media bytes while
real media gets real dimensions/pixels wherever any codec applies.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyrecount_spark.multimodal import codecs as _codecs

try:
    # Ship the pure-stdlib codecs BY VALUE inside every UDF closure:
    # executors need no pyrecount_spark install (queries run under vanilla
    # driver sessions that never addPyFile this package). Stdlib deps
    # (zlib/struct/wave) resolve on any worker.
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_codecs)
except Exception:  # pragma: no cover - serialization falls back by-reference
    pass

MEDIA_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("media_type", StringType()),
        StructField("content", BinaryType()),
        StructField("length", LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha", StringType()),
    ]
)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Binary lake scan via the ``binaryFile`` source: (path, modificationTime,
    length, content). Pushdown on path/length happens at the file index — at
    100 TB always filter by partition directory or pathGlobFilter, never
    post-scan."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def with_media_type(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Cheap typed metadata from the path extension (native expr)."""
    ext = F.lower(F.regexp_extract(F.col(path_col), r"\.([A-Za-z0-9]+)$", 1))
    media = (
        F.when(ext.isin("png", "jpg", "jpeg", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
        .when(ext.isin("bw", "bigwig"), "genomic_coverage")
        .otherwise("binary")
    )
    return df.withColumn("media_type", media)


def extract_image_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: each task receives columnar pandas batches; the decode
    loop is per-row *inside* the batch (unavoidable for codec calls) but
    transfer and scheduling stay vectorized. Narrow op — no shuffle.

    Decode chain on the executor: Pillow when importable → pure-stdlib
    PNG/PPM/BMP decoders (real dims with no installs) → deterministic
    fake dims from a content hash for anything undecodable. Nested so
    cloudpickle ships it by value — the job runs on executors that don't
    have this package installed."""

    decode_image_py = _codecs.decode_image_py  # closure capture: by-value ship

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io

        try:
            from PIL import Image
        except ImportError:
            Image = None

        def decode_image(content: bytes) -> tuple[int, int]:
            if Image is not None:
                try:
                    with Image.open(io.BytesIO(content)) as im:
                        return int(im.width), int(im.height)
                except Exception:
                    pass
            py = decode_image_py(content)
            if py is not None:
                return py[0], py[1]
            h = hashlib.sha256(content).digest()
            return 64 + h[0] % 192, 64 + h[1] % 192

        for pdf in batches:
            dims = [decode_image(bytes(b)) for b in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "n_bytes": [len(bytes(b)) for b in pdf[content_col]],
                    "content_sha": [
                        hashlib.sha256(bytes(b)).hexdigest() for b in pdf[content_col]
                    ],
                }
            )

    return df.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 1024,
    content_col: str = "content",
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emit one row per sampled
    "frame" (here: a byte-offset slice marker — the decode stub). Explode is
    narrow; real decoders slot into the same shape."""
    offsets = F.sequence(
        F.lit(0),
        F.least(
            F.floor(F.length(F.col(content_col)) / every_n_bytes).cast("int"),
            F.lit(max_frames - 1),
        ),
    )
    return df.select("path", F.explode(offsets).alias("frame_idx")).withColumn(
        "byte_offset", F.col("frame_idx").cast("long") * every_n_bytes
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("dst_width", IntegerType()),
        StructField("dst_height", IntegerType()),
        StructField("resized", BinaryType()),
        StructField("resized_bytes", LongType()),
    ]
)


def resize_images(
    df: DataFrame,
    target: int = 224,
    content_col: str = "content",
) -> DataFrame:
    """Arrow-batched image resize to ``target`` on the short side, aspect
    preserved (the standard vision-model preprocessing shape).

    Same contract as ``extract_image_features``: mapInPandas columnar
    batches, narrow op, no shuffle. Pixel work on the executor: Pillow
    when importable (real resampling); else the pure-stdlib PNG/PPM/BMP
    decoders + numpy nearest-neighbor (real pixels, no installs); else a
    deterministic content-seeded placeholder of exactly dst_w·dst_h·3
    bytes so downstream schema and byte budgeting stay real on every
    path. Nested fn ⇒ cloudpickle by-value (vanilla executors).
    """
    decode_image_py = _codecs.decode_image_py
    resize_nearest = _codecs.resize_nearest

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io

        try:
            from PIL import Image
        except ImportError:
            Image = None

        def real_resize(raw: bytes):
            """(src_w, src_h, dst_w, dst_h, rgb_bytes) or None."""
            if Image is not None:
                try:
                    with Image.open(io.BytesIO(raw)) as im:
                        w, h = int(im.width), int(im.height)
                        dw, dh = dst_dims(w, h)
                        rgb = im.convert("RGB").resize((dw, dh))
                        return w, h, dw, dh, rgb.tobytes()
                except Exception:
                    pass  # fall through the codec chain
            py = decode_image_py(raw)
            if py is not None:
                w, h, rgb = py
                dw, dh = dst_dims(w, h)
                return w, h, dw, dh, resize_nearest(rgb, w, h, dw, dh)
            return None

        def decode_image(content: bytes) -> tuple[int, int]:
            h = hashlib.sha256(content).digest()
            return 64 + h[0] % 192, 64 + h[1] % 192

        def dst_dims(w: int, h: int) -> tuple[int, int]:
            if w <= h:
                return target, max(1, round(h * target / w))
            return max(1, round(w * target / h)), target

        for pdf in batches:
            rows = {k: [] for k in (
                "path", "src_width", "src_height", "dst_width", "dst_height",
                "resized", "resized_bytes",
            )}
            for path, content in zip(pdf["path"], pdf[content_col]):
                raw = bytes(content)
                real = real_resize(raw)
                if real is not None:
                    w, h, dw, dh, pixels = real
                else:
                    w, h = decode_image(raw)
                    dw, dh = dst_dims(w, h)
                    n = dw * dh * 3
                    # deterministic placeholder pixels: content-seeded, exact size
                    seed = hashlib.sha256(raw).digest()
                    pixels = (seed * (n // len(seed) + 1))[:n]
                rows["path"].append(path)
                rows["src_width"].append(w)
                rows["src_height"].append(h)
                rows["dst_width"].append(dw)
                rows["dst_height"].append(dh)
                rows["resized"].append(pixels)
                rows["resized_bytes"].append(dw * dh * 3)
            yield pd.DataFrame(rows)

    return df.mapInPandas(resize, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("rms_q15", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def extract_audio_features(
    df: DataFrame, content_col: str = "content", assumed_rate: int = 16_000
) -> DataFrame:
    """Audio feature extraction over opaque binary payloads — the audio twin
    of ``extract_image_features``: Arrow-batched ``mapInPandas``, narrow, no
    shuffle. Valid RIFF/WAV payloads get REAL features via the stdlib
    ``wave`` parser (exact rate/channels/frame-count duration, exact q15
    RMS for PCM16 — no installs needed); anything else falls to the
    deterministic content-hash stub at the assumed PCM16 rate, keeping the
    Spark-side contract (schema, batch shape, per-file row) identical on
    both paths. Compressed audio gets the NO-DECODE metadata pass (mp3
    frame-header walk, FLAC STREAMINFO — exact rate/channels/duration,
    stdlib-only); full compressed-PCM decode still needs a real DSP
    library in front of this chain in production, so their RMS uses the
    deterministic stand-in like non-16-bit PCM.
    """
    parse_wav = _codecs.parse_wav  # closure capture: by-value ship
    parse_mp3 = _codecs.parse_mp3
    parse_flac = _codecs.parse_flac
    parse_ogg = _codecs.parse_ogg

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {k: [] for k in (
                "path", "sample_rate", "n_channels", "duration_ms", "rms_q15", "n_bytes",
            )}
            for path, content in zip(pdf["path"], pdf[content_col]):
                raw = bytes(content)
                # Same backstop as decode_image_py: an unforeseen parser
                # exception over adversarial bytes must fall to the stub,
                # not kill the Spark task.
                try:
                    wav = (parse_wav(raw) or parse_mp3(raw)
                           or parse_flac(raw) or parse_ogg(raw))
                except Exception:
                    wav = None
                if wav is not None:
                    rate = wav["sample_rate"]
                    channels = wav["n_channels"]
                    duration_ms = wav["n_frames"] * 1000 // max(rate, 1)
                    rms = wav["rms_q15"]
                    if rms is None:  # non-16-bit PCM: deterministic stand-in
                        h = hashlib.sha256(raw).digest()
                        rms = int.from_bytes(h[3:5], "big") % 32768
                else:
                    h = hashlib.sha256(raw).digest()
                    channels = 1 + h[2] % 2
                    rate = assumed_rate
                    # PCM16: 2 bytes/sample/channel at the assumed rate
                    n_samples = len(raw) // (2 * channels)
                    duration_ms = n_samples * 1000 // assumed_rate
                    rms = int.from_bytes(h[3:5], "big") % 32768
                rows["path"].append(path)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(channels)
                rows["duration_ms"].append(duration_ms)
                rows["rms_q15"].append(min(rms, 32767))
                rows["n_bytes"].append(len(raw))
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


VIDEO_METADATA_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("container", StringType()),
        StructField("duration_ms", LongType()),
        StructField("timescale", IntegerType()),
        StructField("n_tracks", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def extract_video_metadata(
    df: DataFrame, content_col: str = "content", assumed_bitrate: int = 1_000_000
) -> DataFrame:
    """Video-container metadata over opaque binary payloads — the video
    leg of the multimodal metadata triad (image pixels / audio rates /
    container structure): Arrow-batched ``mapInPandas``, narrow, no
    shuffle. Valid ISO-BMFF (mp4/mov) payloads get REAL metadata via the
    stdlib box walk (major brand, exact mvhd timescale + duration, track
    count); anything else falls to the deterministic content-hash stub
    at an assumed constant bitrate, keeping schema/batch shape identical
    on both paths. Frame DECODE stays behind a real codec library by
    design (see ``sample_frames`` for the offset plumbing)."""
    parse_mp4 = _codecs.parse_mp4  # closure capture: by-value ship
    parse_mkv = _codecs.parse_mkv

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {k: [] for k in (
                "path", "container", "duration_ms", "timescale", "n_tracks", "n_bytes",
            )}
            for path, content in zip(pdf["path"], pdf[content_col]):
                raw = bytes(content)
                try:
                    mp4 = parse_mp4(raw) or parse_mkv(raw)
                except Exception:
                    mp4 = None
                if mp4 is not None:
                    container = mp4["brand"]
                    duration_ms = mp4["duration_ms"]
                    timescale = mp4["timescale"]
                    n_tracks = mp4["n_tracks"]
                else:
                    h = hashlib.sha256(raw).digest()
                    container = "fake"
                    timescale = 1000
                    n_tracks = 1 + h[2] % 3
                    duration_ms = len(raw) * 8 * 1000 // assumed_bitrate
                rows["path"].append(path)
                rows["container"].append(container)
                rows["duration_ms"].append(duration_ms)
                rows["timescale"].append(timescale)
                rows["n_tracks"].append(n_tracks)
                rows["n_bytes"].append(len(raw))
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, VIDEO_METADATA_SCHEMA)
