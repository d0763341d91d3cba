"""Multimodal binary plumbing tests."""

from __future__ import annotations

import pytest

from pyrecount_spark.multimodal.binary import (
    extract_image_features,
    read_binary_files,
    sample_frames,
    with_media_type,
)


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(b"\x89PNG fake image bytes")
    (d / "b.jpg").write_bytes(b"\xff\xd8 fake jpeg")
    (d / "c.wav").write_bytes(b"RIFF fake audio")
    return str(d)


def test_binary_source_and_media_type(spark, media_dir):
    df = with_media_type(read_binary_files(spark, media_dir))
    got = {r.media_type for r in df.collect()}
    assert got == {"image", "audio"}
    assert dict(df.dtypes)["content"] == "binary"


def test_image_feature_extraction_mapinpandas(spark, media_dir):
    df = read_binary_files(spark, media_dir, glob="*.png")
    feats = extract_image_features(df).collect()
    assert len(feats) == 1
    r = feats[0]
    assert 64 <= r.width < 256 and 64 <= r.height < 256
    assert r.n_bytes == 21 and len(r.content_sha) == 64
    # determinism: same bytes -> same fake dims
    again = extract_image_features(df).collect()[0]
    assert (again.width, again.height) == (r.width, r.height)


def test_frame_sampling_shape(spark, media_dir):
    df = read_binary_files(spark, media_dir, glob="*.png")
    frames = sample_frames(df, every_n_bytes=8, max_frames=4).collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2]  # 21 bytes / 8 -> 3 markers
    assert [f.byte_offset for f in frames] == [0, 8, 16]


def test_resize_images_contract(spark, tmp_path):
    """Resize stub: aspect preserved, short side = target, payload exactly
    dst_w*dst_h*3 bytes, deterministic across runs, narrow plan."""
    from pyrecount_spark.multimodal.binary import (
        extract_image_features,
        read_binary_files,
        resize_images,
    )

    src = tmp_path / "imgs"
    src.mkdir()
    for i in range(6):
        (src / f"i{i}.png").write_bytes(bytes([i]) * (50 + i))
    df = read_binary_files(spark, str(src), glob="*.png")

    out = {r.path: r for r in resize_images(df, target=224).collect()}
    feats = {r.path: r for r in extract_image_features(df).collect()}
    assert len(out) == 6
    for path, r in out.items():
        # source dims agree with the shared fake decode
        assert (r.src_width, r.src_height) == (feats[path].width, feats[path].height)
        # aspect: short side exactly 224, other side scaled >= 224
        assert min(r.dst_width, r.dst_height) == 224
        ratio_src = r.src_width / r.src_height
        ratio_dst = r.dst_width / r.dst_height
        assert abs(ratio_src - ratio_dst) < 0.02
        assert r.resized_bytes == r.dst_width * r.dst_height * 3
        assert len(r.resized) == r.resized_bytes
    # deterministic
    again = {r.path: bytes(r.resized) for r in resize_images(df, target=224).collect()}
    assert {p: bytes(r.resized) for p, r in out.items()} == again
    # narrow: no shuffle in the plan
    plan = resize_images(df)._sc._jvm.PythonSQLUtils.explainString(
        resize_images(df)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_audio_feature_extraction_contract(spark, tmp_path):
    from pyrecount_spark.multimodal.binary import (
        extract_audio_features,
        read_binary_files,
    )

    d = tmp_path / "audio"
    d.mkdir()
    (d / "a.wav").write_bytes(b"\x01\x02" * 500)  # 1000 bytes
    (d / "b.wav").write_bytes(b"\x07" * 33)
    df = read_binary_files(spark, str(d), glob="*.wav")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in extract_audio_features(df).collect()}
    assert set(rows) == {"a.wav", "b.wav"}
    a = rows["a.wav"]
    assert a.sample_rate == 16_000 and a.n_channels in (1, 2)
    assert a.n_bytes == 1000
    # PCM16 accounting: samples = bytes // (2*channels), ms at 16 kHz
    assert a.duration_ms == (1000 // (2 * a.n_channels)) * 1000 // 16_000
    assert 0 <= a.rms_q15 < 32768
    again = {r.path.rsplit("/", 1)[-1]: r for r in extract_audio_features(df).collect()}
    assert again["a.wav"].rms_q15 == a.rms_q15  # deterministic stub
    # narrow plan: no exchange anywhere
    plan = extract_audio_features(df)._sc._jvm.PythonSQLUtils.explainString(
        extract_audio_features(df)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_decode_probe_fake_path_on_text_bytes(spark):
    """Non-image payloads take the deterministic fake path on ANY cluster
    (with or without Pillow), so the SQL oracles replaying the hash fake
    stay valid everywhere."""
    import hashlib

    from pyrecount_spark.multimodal.binary import extract_image_features

    payload = b"not an image, just text bytes"
    df = spark.createDataFrame([("p1", payload)], "path string, content binary")
    row = extract_image_features(df).collect()[0]
    h = hashlib.sha256(payload).digest()
    assert (row.width, row.height) == (64 + h[0] % 192, 64 + h[1] % 192)
    assert row.content_sha == hashlib.sha256(payload).hexdigest()


def test_decode_probe_real_path_any_container(spark):
    """A real PNG gets its true dimensions and a real RGB resize payload on
    EVERY container: the chain uses Pillow when importable and the
    pure-stdlib decoder otherwise — same result either way (previously this
    was PIL-gated and skipped here; the PNG is now built stdlib-side)."""
    from pyrecount_spark.multimodal.binary import (
        extract_image_features,
        resize_images,
    )

    png = _png_bytes(320, 200, bytes((10, 20, 30)) * (320 * 200), [0])
    df = spark.createDataFrame([("img1", png)], "path string, content binary")
    row = extract_image_features(df).collect()[0]
    assert (row.width, row.height) == (320, 200)
    r = resize_images(df, target=100).collect()[0]
    assert (r.src_width, r.src_height) == (320, 200)
    assert (r.dst_width, r.dst_height) == (160, 100)
    assert len(bytes(r.resized)) == 160 * 100 * 3


# ---------------------------------------------------------------------------
# Pure-stdlib codec chain: REAL decode without Pillow. These run in every
# environment (the codecs ship by value inside the UDF closures), so the
# "real decode" branch has executing coverage in this container, not just a
# test body waiting for PIL.
# ---------------------------------------------------------------------------


def _crc_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_bytes(w: int, h: int, rgb: bytes, filters: list[int]) -> bytes:
    """Encode an 8-bit RGB PNG applying the given per-row filter types —
    lets the test exercise every unfilter branch of the decoder."""
    import struct
    import zlib

    ch, stride = 3, w * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = rgb[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = line[i]
            elif f == 1:
                v = (line[i] - a) & 255
            elif f == 2:
                v = (line[i] - b) & 255
            elif f == 3:
                v = (line[i] - ((a + b) >> 1)) & 255
            else:  # Paeth
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (line[i] - pr) & 255
            raw.append(v)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _crc_chunk(b"IHDR", ihdr)
        + _crc_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _crc_chunk(b"IEND", b"")
    )


def _bmp_bytes(w: int, h: int, rgb: bytes) -> bytes:
    """24-bit BI_RGB bottom-up BMP."""
    import struct

    stride = (w * 3 + 3) & ~3
    pix = bytearray()
    for row in range(h - 1, -1, -1):  # bottom-up
        line = bytearray()
        for x in range(w):
            o = (row * w + x) * 3
            line += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # BGR
        line += bytes(stride - w * 3)
        pix += line
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + bytes(pix)


def _wav_bytes(samples, rate: int, channels: int = 1) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


_RGB_2x2 = bytes(
    [255, 0, 0, 0, 255, 0,
     0, 0, 255, 255, 255, 0]
)  # quadrant colors: R G / B Y


def test_stdlib_codecs_roundtrip_unit():
    """decode_png must invert every filter type; PPM and BMP decode to the
    same pixels; WAV parses exact rate/frames and integer q15 RMS."""
    import math

    from pyrecount_spark.multimodal.codecs import (
        decode_bmp,
        decode_png,
        decode_ppm,
        parse_wav,
        resize_nearest,
    )

    rgb = bytes(range(5 * 3)) * 4  # 5x4 image, deterministic pixels
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3]):
        got = decode_png(_png_bytes(5, 4, rgb, filters))
        assert got == (5, 4, rgb), f"filters {filters}"
    ppm = b"P6\n# comment\n5 4\n255\n" + rgb
    assert decode_ppm(ppm) == (5, 4, rgb)
    assert decode_bmp(_bmp_bytes(5, 4, rgb)) == (5, 4, rgb)
    # nearest-neighbor 2x2 -> 4x4: each quadrant replicates its color
    up = resize_nearest(_RGB_2x2, 2, 2, 4, 4)
    assert len(up) == 4 * 4 * 3
    assert up[0:3] == bytes([255, 0, 0]) and up[9:12] == bytes([0, 255, 0])
    assert up[36:39] == bytes([0, 0, 255]) and up[45:48] == bytes([255, 255, 0])
    samples = [1000, -1000, 2000, -2000] * 250
    wav = parse_wav(_wav_bytes(samples, rate=8000))
    assert wav["sample_rate"] == 8000 and wav["n_channels"] == 1
    assert wav["n_frames"] == 1000
    exp_rms = round(math.sqrt(sum(s * s for s in samples) / len(samples)))
    assert wav["rms_q15"] == exp_rms


def test_real_decode_without_pil_spark_path(spark, tmp_path):
    """The Spark operators must surface REAL dims/pixels/rates for media
    the stdlib codecs handle — on a PIL-less container, through the full
    mapInPandas path."""
    from pyrecount_spark.multimodal.binary import (
        extract_audio_features,
        extract_image_features,
        read_binary_files,
        resize_images,
    )

    d = tmp_path / "media"
    d.mkdir()
    rgb = bytes(range(6 * 3)) * 5  # 6x5
    (d / "img.png").write_bytes(_png_bytes(6, 5, rgb, [0, 1, 2, 3, 4]))
    (d / "img.ppm").write_bytes(b"P6\n6 5\n255\n" + rgb)
    (d / "img.bmp").write_bytes(_bmp_bytes(6, 5, rgb))
    df = read_binary_files(spark, str(d), glob="img.*")
    feats = {r.path.rsplit(".", 1)[-1]: r for r in extract_image_features(df).collect()}
    assert {k: (v.width, v.height) for k, v in feats.items()} == {
        "png": (6, 5), "ppm": (6, 5), "bmp": (6, 5)
    }
    # resize: real pixels — 2x2 quadrants PNG upscaled, corners keep colors
    (d / "quad.png").write_bytes(_png_bytes(2, 2, _RGB_2x2, [0]))
    qdf = read_binary_files(spark, str(d), glob="quad.png")
    r = resize_images(qdf, target=4).collect()[0]
    assert (r.src_width, r.src_height, r.dst_width, r.dst_height) == (2, 2, 4, 4)
    px = bytes(r.resized)
    assert px[0:3] == bytes([255, 0, 0]) and px[-3:] == bytes([255, 255, 0])
    # audio: real WAV rate/duration/RMS via the stdlib wave parser
    (d / "tone.wav").write_bytes(_wav_bytes([3000, -3000] * 800, rate=16000))
    adf = read_binary_files(spark, str(d), glob="tone.wav")
    a = extract_audio_features(adf).collect()[0]
    assert a.sample_rate == 16000 and a.n_channels == 1
    assert a.duration_ms == 1600 * 1000 // 16000
    assert a.rms_q15 == 3000


def test_stdlib_codecs_reject_malformed():
    """Truncated / corrupt payloads must return None (fall through to the
    deterministic fake), never raise or return garbage dims."""
    from pyrecount_spark.multimodal.codecs import (
        decode_bmp,
        decode_png,
        decode_ppm,
        parse_wav,
    )

    rgb = bytes(range(5 * 3)) * 4
    png = _png_bytes(5, 4, rgb, [0])
    bmp = _bmp_bytes(5, 4, rgb)
    wav = _wav_bytes([100, -100] * 50, rate=8000)
    cases = [
        (decode_png, png[: len(png) // 2]),      # truncated IDAT
        (decode_png, b"\x89PNG\r\n\x1a\n" + b"\x00" * 20),  # garbage chunks
        (decode_ppm, b"P6\n5 4\n255\n" + rgb[:10]),          # short pixels
        (decode_ppm, b"P6\nx y\n255\n" + rgb),               # non-int dims
        (decode_bmp, bmp[:30]),                               # truncated header
        (decode_bmp, b"BM" + b"\x00" * 60),                   # zero dims
        (parse_wav, wav[:20]),                                # truncated RIFF
        (parse_wav, b"not audio at all"),
    ]
    for dec, payload in cases:
        assert dec(payload) is None, (dec.__name__, payload[:16])


def _mp3_bytes(n_frames: int = 5, id3: bool = False) -> bytes:
    """Hand-built MPEG1 Layer III mono 44100 Hz 128 kbps frames (header
    math from the public ISO 11172-3 layout): frame = 144·128000//44100
    = 417 bytes, 1152 samples."""
    frame = bytes([0xFF, 0xFB, 0x90, 0xC0]) + b"\xaa" * (417 - 4)
    tag = b""
    if id3:
        body = b"\x00" * 100
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + body
    return tag + frame * n_frames


def _flac_bytes(rate: int = 22050, channels: int = 2, total: int = 123456) -> bytes:
    si = bytearray(34)
    si[0:2] = (4096).to_bytes(2, "big")
    si[2:4] = (4096).to_bytes(2, "big")
    si[10] = rate >> 12
    si[11] = (rate >> 4) & 0xFF
    si[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((16 - 1) >> 4)
    si[13] = (((16 - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
    si[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + bytes(si)


def test_compressed_audio_metadata_parsers():
    """mp3 frame-walk and FLAC STREAMINFO give exact rate/channels/sample
    counts without decoding; anything less than a clean chain falls
    through (None) to the deterministic stub."""
    from pyrecount_spark.multimodal.codecs import parse_flac, parse_mp3

    mp3 = parse_mp3(_mp3_bytes(5))
    assert mp3 == {
        "sample_rate": 44100, "n_channels": 1, "sample_width": None,
        "n_frames": 5 * 1152, "rms_q15": None,
    }
    assert parse_mp3(_mp3_bytes(3, id3=True))["n_frames"] == 3 * 1152
    flac = parse_flac(_flac_bytes())
    assert flac["sample_rate"] == 22050 and flac["n_channels"] == 2
    assert flac["n_frames"] == 123456 and flac["sample_width"] == 2
    # rejection: single frame, trailing garbage, text, truncation
    assert parse_mp3(_mp3_bytes(1)) is None
    assert parse_mp3(_mp3_bytes(2) + b"\x00" * 500) is None
    assert parse_mp3(b"plain ascii text payload, no sync byte anywhere") is None
    assert parse_flac(_flac_bytes()[:20]) is None
    assert parse_flac(b"fLaC" + b"\x00" * 50) is None


def test_audio_features_compressed_metadata_spark_path(spark):
    """extract_audio_features surfaces REAL mp3/FLAC metadata through the
    full mapInPandas path (rate/channels/duration from the parser, RMS
    from the deterministic stand-in)."""
    from pyrecount_spark.multimodal.binary import extract_audio_features

    rows = [("m.mp3", _mp3_bytes(10)), ("f.flac", _flac_bytes(rate=8000, total=16000))]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = {r.path: r for r in extract_audio_features(df).collect()}
    assert got["m.mp3"].sample_rate == 44100
    assert got["m.mp3"].n_channels == 1
    assert got["m.mp3"].duration_ms == 10 * 1152 * 1000 // 44100
    assert got["f.flac"].sample_rate == 8000
    assert got["f.flac"].duration_ms == 2000  # 16000 samples at 8 kHz
    for r in got.values():  # stand-in RMS stays in q15 range
        assert 0 <= r.rms_q15 <= 32767


def test_mp3_cross_version_frames():
    """Frame-size/sample math across MPEG versions and layers (hand-built
    headers from the public ISO tables): MPEG2 Layer III halves the
    samples-per-frame; Layer II keeps 1152."""
    from pyrecount_spark.multimodal.codecs import parse_mp3

    # MPEG2 Layer III, 64 kbps, 22050 Hz, mono: 576/8*64000//22050 = 208 B
    f2 = bytes([0xFF, 0xF3, 0x80, 0xC0]) + b"\x55" * (208 - 4)
    got = parse_mp3(f2 * 4)
    assert got["sample_rate"] == 22050 and got["n_channels"] == 1
    assert got["n_frames"] == 4 * 576
    # MPEG1 Layer II, 192 kbps, 48000 Hz, stereo: 1152/8*192000//48000 = 576 B
    f1 = bytes([0xFF, 0xFD, 0xA4, 0x00]) + b"\x55" * (576 - 4)
    got = parse_mp3(f1 * 3)
    assert got["sample_rate"] == 48000 and got["n_channels"] == 2
    assert got["n_frames"] == 3 * 1152
    # mixed-rate chain is rejected (not a clean stream)
    assert parse_mp3(f2 + f1 + f1) is None


def _mp4_bytes(timescale: int = 600, duration: int = 1200, tracks: int = 2,
               v1: bool = False) -> bytes:
    """Hand-built ISO-BMFF: ftyp + moov(mvhd + n trak) + mdat."""
    def box(btype, payload):
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isommp42")
    if v1:
        mvhd = box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 16
                   + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
                   + b"\x00" * 80)
    else:
        mvhd = box(b"mvhd", bytes([0, 0, 0, 0]) + b"\x00" * 8
                   + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
                   + b"\x00" * 76)
    moov = box(b"moov", mvhd + b"".join(box(b"trak", b"\x00" * 8) for _ in range(tracks)))
    return ftyp + moov + box(b"mdat", b"\xaa" * 100)


def test_mp4_box_walk_metadata():
    from pyrecount_spark.multimodal.codecs import parse_mp4

    got = parse_mp4(_mp4_bytes())
    assert got == {"brand": "isom", "timescale": 600, "duration_ms": 2000,
                   "n_tracks": 2}
    assert parse_mp4(_mp4_bytes(timescale=90000, duration=90000 * 7,
                                tracks=3, v1=True))["duration_ms"] == 7000
    # rejection: text, truncation, missing moov, zero timescale
    assert parse_mp4(b"plain text that is surely not a video container") is None
    assert parse_mp4(_mp4_bytes()[:30]) is None
    assert parse_mp4(_mp4_bytes(timescale=0)) is None


def test_container_numeric_envelope_clamps():
    """Adversarial numeric envelopes: a raw uint32 mvhd timescale and a v1
    uint64 duration over a tiny timescale must clamp to the output schema
    (int32 timescale / int64 duration_ms) instead of wrapping negative
    under Arrow; an MKV NaN Duration falls through to None."""
    import struct as _s

    from pyrecount_spark.multimodal.codecs import parse_mkv, parse_mp4

    got = parse_mp4(_mp4_bytes(timescale=4294967280, duration=4294967280))
    assert got["timescale"] == 2**31 - 1  # clamped, not -16
    assert got["duration_ms"] == 1000  # ms math still uses the raw value
    got = parse_mp4(_mp4_bytes(timescale=1, duration=2**62, v1=True))
    assert got["duration_ms"] == 2**63 - 1  # int64-bounded
    header = _ebml(0x1A45DFA3, _ebml(0x4282, b"webm"))
    info = _ebml(0x1549A966,
                 _ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                 + _ebml(0x4489, _s.pack(">d", float("nan"))))
    raw = header + b"\x18\x53\x80\x67" + bytes([0x80 | len(info)]) + info
    assert parse_mkv(raw) is None


def test_video_metadata_spark_path(spark):
    """extract_video_metadata surfaces REAL container metadata through the
    full mapInPandas path; non-container bytes get the deterministic stub."""
    import hashlib

    from pyrecount_spark.multimodal.binary import extract_video_metadata

    text = b"x" * 2500  # stub: 2500 B * 8 * 1000 // 1e6 = 20 ms
    rows = [("v.mp4", _mp4_bytes(timescale=1000, duration=4321)), ("t.txt", text)]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = {r.path: r for r in extract_video_metadata(df).collect()}
    assert got["v.mp4"].container == "isom"
    assert got["v.mp4"].duration_ms == 4321 and got["v.mp4"].n_tracks == 2
    assert got["t.txt"].container == "fake"
    assert got["t.txt"].duration_ms == 20
    assert got["t.txt"].n_tracks == 1 + hashlib.sha256(text).digest()[2] % 3


def _ogg_page(payload: bytes, granule: int, serial: int = 7, seq: int = 0,
              htype: int = 0) -> bytes:
    nsegs = (len(payload) + 254) // 255 or 1
    segs = []
    rem = len(payload)
    for _ in range(nsegs):
        segs.append(min(rem, 255))
        rem -= segs[-1]
    return (b"OggS" + bytes([0, htype])
            + granule.to_bytes(8, "little", signed=True)
            + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
            + b"\x00" * 4 + bytes([len(segs)]) + bytes(segs) + payload)


def test_ogg_vorbis_and_opus_metadata():
    from pyrecount_spark.multimodal.codecs import parse_ogg

    vorbis_id = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
                 + (44100).to_bytes(4, "little") + b"\x00" * 16)
    raw = (_ogg_page(vorbis_id, granule=0, htype=2)
           + _ogg_page(b"\xaa" * 40, granule=44100 * 3, seq=1, htype=4))
    got = parse_ogg(raw)
    assert got["sample_rate"] == 44100 and got["n_channels"] == 2
    assert got["n_frames"] == 44100 * 3  # 3 s
    opus_id = b"OpusHead" + bytes([1, 1]) + (312).to_bytes(2, "little") + b"\x00" * 9
    raw = (_ogg_page(opus_id, granule=0, htype=2)
           + _ogg_page(b"\xbb" * 20, granule=48000 + 312, seq=1, htype=4))
    got = parse_ogg(raw)
    assert got["sample_rate"] == 48000 and got["n_channels"] == 1
    assert got["n_frames"] == 48000  # pre-skip removed: exactly 1 s
    assert parse_ogg(b"OggS" + b"\x01" + b"\x00" * 30) is None  # bad version
    assert parse_ogg(b"not a container") is None


def _ebml(eid: int, body: bytes) -> bytes:
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    ln = len(body)
    assert ln < 127
    return idb + bytes([0x80 | ln]) + body


def test_mkv_webm_metadata():
    import struct as _s

    from pyrecount_spark.multimodal.codecs import parse_mkv

    header = _ebml(0x1A45DFA3, _ebml(0x4282, b"webm"))
    info = _ebml(0x1549A966,
                 _ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                 + _ebml(0x4489, _s.pack(">d", 2500.0)))
    tracks = _ebml(0x1654AE6B, _ebml(0xAE, b"\x00" * 4) + _ebml(0xAE, b"\x00" * 4))
    seg_body = info + tracks
    raw = header + b"\x18\x53\x80\x67" + bytes([0x80 | len(seg_body)]) + seg_body
    got = parse_mkv(raw)
    assert got == {"brand": "webm", "timescale": 1_000_000,
                   "duration_ms": 2500, "n_tracks": 2}
    assert parse_mkv(raw[:20]) is None
    assert parse_mkv(b"junk" * 10) is None


def test_container_chain_spark_paths(spark):
    """ogg feeds the audio chain; mkv feeds the video chain — both through
    the full mapInPandas operators."""
    import struct as _s

    from pyrecount_spark.multimodal.binary import (
        extract_audio_features,
        extract_video_metadata,
    )

    vorbis_id = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
                 + (8000).to_bytes(4, "little") + b"\x00" * 16)
    ogg = (_ogg_page(vorbis_id, granule=0, htype=2)
           + _ogg_page(b"\xaa" * 10, granule=16000, seq=1, htype=4))
    adf = spark.createDataFrame([("a.ogg", ogg)], "path string, content binary")
    arow = extract_audio_features(adf).collect()[0]
    assert arow.sample_rate == 8000 and arow.duration_ms == 2000

    header = _ebml(0x1A45DFA3, _ebml(0x4282, b"matroska"))
    info = _ebml(0x1549A966, _ebml(0x4489, _s.pack(">f", 1500.0)))
    seg_body = info + _ebml(0x1654AE6B, _ebml(0xAE, b"\x00"))
    mkv = header + b"\x18\x53\x80\x67" + bytes([0x80 | len(seg_body)]) + seg_body
    vdf = spark.createDataFrame([("v.mkv", mkv)], "path string, content binary")
    vrow = extract_video_metadata(vdf).collect()[0]
    assert vrow.container == "matroska" and vrow.duration_ms == 1500
    assert vrow.n_tracks == 1


def test_malformed_media_survives_spark_task(spark):
    """Malformed JPEG/GIF/PNG payloads must ride the full mapInPandas path
    to deterministic fake features, not kill the task."""
    from pyrecount_spark.multimodal.binary import extract_image_features

    rows = [
        ("empty_sof.jpg", b"\xff\xd8\xff\xc0\x00\x02"),
        ("bad_dht.jpg", b"\xff\xd8\xff\xc4\x00\x16\x00" + bytes([5] + [0] * 15)),
        ("cut.gif", b"GIF89a\x02\x00"),
        ("cut.png", b"\x89PNG\r\n\x1a\n" + b"\xff" * 30),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    got = extract_image_features(df).collect()
    assert len(got) == 4
    for r in got:  # all fell to the content-hash fake dims
        assert 64 <= r.width < 256 and 64 <= r.height < 256


def test_container_parser_size_edge_cases():
    """MKV unknown-size segments (streaming captures) and MP4 64-bit
    largesize boxes parse correctly."""
    import struct as _s

    from pyrecount_spark.multimodal.codecs import parse_mkv, parse_mp4

    header = _ebml(0x1A45DFA3, _ebml(0x4282, b"webm"))
    info = _ebml(0x1549A966, _ebml(0x4489, _s.pack(">f", 750.0)))
    body = info + _ebml(0x1654AE6B, _ebml(0xAE, b"\x00"))
    # segment size byte 0xFF = 1-byte vint with all value bits set -> unknown
    raw = header + b"\x18\x53\x80\x67" + b"\xff" + body
    got = parse_mkv(raw)
    assert got is not None and got["duration_ms"] == 750 and got["n_tracks"] == 1

    # mp4: ftyp carried in a 64-bit largesize box (size field == 1)
    ftyp_payload = b"isom" + (0).to_bytes(4, "big")
    big_ftyp = (1).to_bytes(4, "big") + b"ftyp" + (16 + len(ftyp_payload)).to_bytes(8, "big") + ftyp_payload
    def box(btype, payload):
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload
    mvhd = box(b"mvhd", bytes([0, 0, 0, 0]) + b"\x00" * 8
               + (1000).to_bytes(4, "big") + (5000).to_bytes(4, "big") + b"\x00" * 76)
    raw = big_ftyp + box(b"moov", mvhd + box(b"trak", b"\x00" * 8))
    got = parse_mp4(raw)
    assert got is not None and got["duration_ms"] == 5000 and got["n_tracks"] == 1
