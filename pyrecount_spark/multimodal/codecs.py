"""Pure-stdlib media codecs for the multimodal decode chain.

The executor-side decode order in ``multimodal.binary`` is:
PIL (when installed) → THESE decoders → deterministic content-hash fake.
PNG (8-bit non-interlaced), binary PPM, and uncompressed 24-bit BMP
decode to real RGB pixels with nothing but ``zlib``/``struct``; JPEG and
GIF payloads fall through to the fake (recount3 carries no image corpus,
so their decoders are retired); WAV parses with the stdlib ``wave``
module; compressed media get NO-DECODE metadata passes (mp3 frame-header walk, FLAC STREAMINFO,
ISO-BMFF/mp4 box walk). That makes the "real decode" branch genuinely
executable — and testable — on codec-less containers, not a stub waiting
for Pillow.

These are correctness-first reference decoders (per-byte unfiltering
loops); production throughput comes from PIL/libvips sitting ahead of
them in the chain. Returns are ``None`` for any payload outside the
supported envelope so the caller can fall through.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(raw: bytes) -> tuple[int, int, bytes] | None:
    """8-bit, non-interlaced gray / RGB / gray+alpha / RGBA → (w, h, rgb)."""
    if not raw.startswith(_PNG_MAGIC):
        return None
    pos, w, h, bit, color, interlace = 8, None, None, None, None, None
    idat = bytearray()
    while pos + 8 <= len(raw):
        ln = int.from_bytes(raw[pos : pos + 4], "big")
        typ = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            if ln < 13:
                return None
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            bit, color, interlace = data[8], data[9], data[12]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    ch = _PNG_CHANNELS.get(color)
    if not w or not h or bit != 8 or interlace != 0 or ch is None:
        return None
    try:
        flat = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(flat) < h * (stride + 1):
        return None
    out = bytearray(h * stride)
    prev = bytearray(stride)
    p = 0
    for y in range(h):
        f = flat[p]
        line = bytearray(flat[p + 1 : p + 1 + stride])
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 255
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        elif f != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = line
    # normalize to 3-channel RGB
    if ch == 3:
        rgb = bytes(out)
    elif ch == 4:
        rgb = bytes(b for i in range(0, len(out), 4) for b in out[i : i + 3])
    elif ch == 1:
        rgb = bytes(b for v in out for b in (v, v, v))
    else:  # gray + alpha
        rgb = bytes(
            b for i in range(0, len(out), 2) for b in (out[i], out[i], out[i])
        )
    return w, h, rgb


def decode_ppm(raw: bytes) -> tuple[int, int, bytes] | None:
    """Binary PPM (P6), maxval ≤ 255 → (w, h, rgb)."""
    if not raw.startswith(b"P6"):
        return None
    # header: magic, width, height, maxval — whitespace/comment separated
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(raw):
        c = raw[i : i + 1]
        if c == b"#":
            while i < len(raw) and raw[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(raw) and not raw[j : j + 1].isspace():
                j += 1
            tokens.append(raw[i:j])
            i = j
    if len(tokens) < 3:
        return None
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if w <= 0 or h <= 0 or maxval > 255:
        return None
    pixels = raw[i + 1 : i + 1 + w * h * 3]  # single whitespace after maxval
    if len(pixels) < w * h * 3:
        return None
    return w, h, bytes(pixels)


def decode_bmp(raw: bytes) -> tuple[int, int, bytes] | None:
    """Uncompressed (BI_RGB) 24-bit BMP → (w, h, rgb). Handles 4-byte row
    padding and bottom-up vs top-down row order; BGR → RGB swap."""
    if len(raw) < 54 or not raw.startswith(b"BM"):
        return None
    data_off = struct.unpack_from("<I", raw, 10)[0]
    hdr_size = struct.unpack_from("<I", raw, 14)[0]
    if hdr_size < 40:
        return None
    w, h_signed = struct.unpack_from("<ii", raw, 18)
    planes, bpp = struct.unpack_from("<HH", raw, 26)
    compression = struct.unpack_from("<I", raw, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h_signed == 0:
        return None
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(raw) < data_off + stride * h:
        return None
    rgb = bytearray(w * h * 3)
    for row in range(h):
        # positive height = bottom-up storage
        src_row = (h - 1 - row) if h_signed > 0 else row
        base = data_off + src_row * stride
        for x in range(w):
            b, g, r = raw[base + 3 * x : base + 3 * x + 3]
            o = (row * w + x) * 3
            rgb[o], rgb[o + 1], rgb[o + 2] = r, g, b
    return w, h, bytes(rgb)


def decode_image_py(raw: bytes) -> tuple[int, int, bytes] | None:
    """Magic-byte dispatch over the pure-stdlib decoders.

    The except is a contract backstop: a malformed payload must FALL
    THROUGH to the deterministic fake, never kill the Spark task — the
    decoders bounds-check their envelopes, but a reference parser over
    adversarial corpus bytes is exactly where an unforeseen IndexError
    escapes."""
    for dec in (decode_png, decode_ppm, decode_bmp):
        try:
            out = dec(raw)
        except Exception:
            out = None
        if out is not None:
            return out
    return None


def resize_nearest(
    rgb: bytes, w: int, h: int, dw: int, dh: int
) -> bytes:
    """Nearest-neighbor resample of packed RGB bytes (numpy index map —
    vectorized, deterministic; the PIL-less real-pixel resize path)."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    ys = (np.arange(dh) * h) // dh
    xs = (np.arange(dw) * w) // dw
    return arr[ys][:, xs].tobytes()


def parse_wav(raw: bytes) -> dict | None:
    """RIFF/WAV via the stdlib ``wave`` module → sample_rate, n_channels,
    sample_width, n_frames, and exact integer q15 RMS for PCM16."""
    try:
        with wave.open(io.BytesIO(raw), "rb") as wf:
            rate = wf.getframerate()
            channels = wf.getnchannels()
            width = wf.getsampwidth()
            n_frames = wf.getnframes()
            frames = wf.readframes(n_frames)
    except (wave.Error, EOFError, struct.error):
        return None
    rms_q15 = None
    if width == 2 and frames:
        import numpy as np

        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
        rms_q15 = int(round(float(np.sqrt(np.mean(samples * samples)))))
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "sample_width": width,
        "n_frames": n_frames,
        "rms_q15": rms_q15,
    }


# MPEG audio (mp3) bitrate tables, kbps — ISO/IEC 11172-3 / 13818-3
# (public). Rows: (version-group, layer) → index 1..14; index 0 is "free",
# 15 invalid.
_MP3_BITRATES = {
    ("1", 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    ("1", 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    ("1", 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    ("2", 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    ("2", 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    ("2", 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _mp3_frame(raw: bytes, i: int) -> tuple[int, int, int, int] | None:
    """Parse one MPEG audio frame header at offset ``i`` →
    (frame_bytes, samples_per_frame, sample_rate, n_channels), or None."""
    if i + 4 > len(raw) or raw[i] != 0xFF or (raw[i + 1] & 0xE0) != 0xE0:
        return None
    ver_bits = (raw[i + 1] >> 3) & 3  # 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    layer_bits = (raw[i + 1] >> 1) & 3  # 0 reserved, 1=III, 2=II, 3=I
    if ver_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits  # 1=Layer I, 2=Layer II, 3=Layer III
    br_idx = (raw[i + 2] >> 4) & 0xF
    sr_idx = (raw[i + 2] >> 2) & 3
    if br_idx in (0, 0xF) or sr_idx == 3:  # free-format unsupported
        return None
    vgroup = "1" if ver_bits == 3 else "2"
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _MP3_RATES[ver_bits][sr_idx]
    padding = (raw[i + 2] >> 1) & 1
    channels = 1 if ((raw[i + 3] >> 6) & 3) == 3 else 2
    if layer == 1:
        nbytes = (12 * bitrate // rate + padding) * 4
        samples = 384
    else:
        samples = 1152 if (vgroup == "1" or layer == 2) else 576
        nbytes = samples // 8 * bitrate // rate + padding
    if nbytes < 4:
        return None
    return nbytes, samples, rate, channels


def parse_mp3(raw: bytes) -> dict | None:
    """MPEG audio metadata WITHOUT decoding: walk the frame-header chain
    (after an optional ID3v2 tag) and sum exact per-frame sample counts —
    the metadata pass a large-corpus audio pipeline actually runs (full
    PCM decode needs a real DSP library). Strict on purpose: sync must sit
    at the payload start, at least two chained frames must validate, and
    the chain must cover ≥90% of the remaining bytes — so arbitrary binary
    blobs fall through to the deterministic stub instead of
    mis-identifying. Returns sample_rate / n_channels / n_frames (sample
    count) like ``parse_wav``; ``rms_q15`` is None (no PCM)."""
    i = 0
    if raw[:3] == b"ID3" and len(raw) >= 10:
        i = 10 + (
            (raw[6] & 0x7F) << 21 | (raw[7] & 0x7F) << 14
            | (raw[8] & 0x7F) << 7 | (raw[9] & 0x7F)
        )
    start, total_samples, n_frames, rate, channels = i, 0, 0, None, None
    while i + 4 <= len(raw):
        fr = _mp3_frame(raw, i)
        if fr is None:
            break
        nbytes, samples, frate, fch = fr
        if rate is None:
            rate, channels = frate, fch
        elif frate != rate:  # rate switch mid-stream: not a clean mp3
            return None
        total_samples += samples
        n_frames += 1
        i += nbytes
    if n_frames < 2 or rate is None:
        return None
    if (i - start) < (len(raw) - start) * 9 // 10:  # trailing garbage
        return None
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "sample_width": None,
        "n_frames": total_samples,
        "rms_q15": None,
    }


def parse_flac(raw: bytes) -> dict | None:
    """FLAC metadata from the mandatory STREAMINFO block (format spec is
    public): exact sample rate, channels, bits per sample, and total
    samples — again the no-decode metadata pass. Returns the ``parse_wav``
    shape; ``rms_q15`` is None."""
    if raw[:4] != b"fLaC" or len(raw) < 42:
        return None
    # first metadata block must be STREAMINFO (type 0), length 34
    btype = raw[4] & 0x7F
    blen = int.from_bytes(raw[5:8], "big")
    if btype != 0 or blen != 34 or len(raw) < 8 + 34:
        return None
    si = raw[8 : 8 + 34]
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 0x7) + 1
    bps = (((si[12] & 1) << 4) | (si[13] >> 4)) + 1
    total = ((si[13] & 0x0F) << 32) | int.from_bytes(si[14:18], "big")
    if rate == 0:
        return None
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "sample_width": (bps + 7) // 8,
        "n_frames": total,
        "rms_q15": None,
    }


def parse_mp4(raw: bytes) -> dict | None:
    """ISO-BMFF (mp4/mov) container metadata from the box structure
    (public ISO/IEC 14496-12 layout) — no codec decode: major brand from
    ``ftyp``, exact movie timescale/duration from ``moov``/``mvhd`` (v0
    and v1), track count from ``trak`` children. Strict: the FIRST box
    must be ``ftyp`` and every box must nest cleanly, so arbitrary blobs
    fall through (None) to the deterministic stub."""
    n = len(raw)
    if n < 16 or raw[4:8] != b"ftyp":
        return None
    brand = raw[8:12].decode("ascii", "replace")
    timescale = duration = None
    n_tracks = 0
    pos = 0
    while pos + 8 <= n:
        size = int.from_bytes(raw[pos : pos + 4], "big")
        btype = raw[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > n:
                return None
            size = int.from_bytes(raw[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = n - pos
        if size < hdr or pos + size > n:
            return None
        if btype == b"moov":
            cpos, cend = pos + hdr, pos + size
            while cpos + 8 <= cend:
                csize = int.from_bytes(raw[cpos : cpos + 4], "big")
                ctype = raw[cpos + 4 : cpos + 8]
                if csize < 8 or cpos + csize > cend:
                    return None
                if ctype == b"mvhd":
                    body = raw[cpos + 8 : cpos + csize]
                    if len(body) < 20:
                        return None
                    if body[0] == 1:
                        if len(body) < 32:
                            return None
                        timescale = int.from_bytes(body[20:24], "big")
                        duration = int.from_bytes(body[24:32], "big")
                    else:
                        timescale = int.from_bytes(body[12:16], "big")
                        duration = int.from_bytes(body[16:20], "big")
                elif ctype == b"trak":
                    n_tracks += 1
                cpos += csize
        pos += size
    if timescale is None or timescale == 0:
        return None
    # Clamp to the output schema's envelope, mirroring parse_mkv: mvhd
    # timescale is a raw uint32 (IntegerType would wrap negative under
    # Arrow with safecheck off), and a v1 uint64 duration over a tiny
    # timescale can push duration_ms past int64.
    return {
        "brand": brand,
        "timescale": min(timescale, 2**31 - 1),
        "duration_ms": min(duration * 1000 // timescale, 2**63 - 1),
        "n_tracks": n_tracks,
    }


def parse_ogg(raw: bytes) -> dict | None:
    """Ogg audio metadata without decoding (RFC 3533 page walk): codec id
    from the first packet (Vorbis I header → exact rate/channels; OpusHead
    → 48 kHz granules + pre-skip), duration from the stream's last granule
    position. Strict page framing so arbitrary blobs fall through."""
    if raw[:4] != b"OggS":
        return None
    n = len(raw)
    pos = 0
    rate = channels = serial = None
    preskip = 0
    last_granule = None
    while pos + 27 <= n:
        if raw[pos : pos + 4] != b"OggS" or raw[pos + 4] != 0:
            return None
        granule = int.from_bytes(raw[pos + 6 : pos + 14], "little", signed=True)
        ser = int.from_bytes(raw[pos + 14 : pos + 18], "little")
        nsegs = raw[pos + 26]
        if pos + 27 + nsegs > n:
            return None
        paylen = sum(raw[pos + 27 : pos + 27 + nsegs])
        pstart = pos + 27 + nsegs
        if pstart + paylen > n:
            return None
        if rate is None:
            payload = raw[pstart : pstart + paylen]
            if payload.startswith(b"\x01vorbis") and paylen >= 16:
                channels = payload[11]
                rate = int.from_bytes(payload[12:16], "little")
                serial = ser
            elif payload.startswith(b"OpusHead") and paylen >= 12:
                channels = payload[9]
                preskip = int.from_bytes(payload[10:12], "little")
                rate = 48000  # Opus granules run at 48 kHz regardless of input
                serial = ser
            else:
                return None  # first logical stream is not recognized audio
        if ser == serial and granule >= 0:
            last_granule = granule
        pos = pstart + paylen
    if not rate or last_granule is None:
        return None
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "sample_width": None,
        "n_frames": max(last_granule - preskip, 0),
        "rms_q15": None,
    }


def _ebml_vint(raw: bytes, pos: int, mask: bool) -> tuple[int, int] | None:
    """EBML variable-length integer at ``pos`` → (value, n_bytes)."""
    if pos >= len(raw) or raw[pos] == 0:
        return None
    ln = 8 - raw[pos].bit_length() + 1
    if ln > 8 or pos + ln > len(raw):
        return None
    v = raw[pos] & (0xFF >> ln) if mask else raw[pos]
    for i in range(1, ln):
        v = (v << 8) | raw[pos + i]
    return v, ln


def parse_mkv(raw: bytes) -> dict | None:
    """Matroska/WebM metadata from the EBML structure (public spec): the
    DocType from the EBML header, exact Info timescale + duration, track
    count — the ``parse_mp4`` shape for the video metadata chain."""
    if raw[:4] != b"\x1aE\xdf\xa3":
        return None
    n = len(raw)
    hdr = _ebml_vint(raw, 4, mask=True)
    if hdr is None:
        return None
    hsize, hlen = hdr
    doctype = "matroska"
    hpos, hend = 4 + hlen, 4 + hlen + hsize
    if hend > n:
        return None
    while hpos < hend:  # walk EBML-header children for DocType (0x4282)
        eid = _ebml_vint(raw, hpos, mask=False)
        if eid is None:
            return None
        sz = _ebml_vint(raw, hpos + eid[1], mask=True)
        if sz is None:
            return None
        body = hpos + eid[1] + sz[1]
        if eid[0] == 0x4282:
            doctype = raw[body : body + sz[0]].decode("ascii", "replace").rstrip("\x00")
        hpos = body + sz[0]
    if raw[hend : hend + 4] != b"\x18\x53\x80\x67":  # Segment
        return None
    seg = _ebml_vint(raw, hend + 4, mask=True)
    if seg is None:
        return None
    ssize, slen = seg
    spos = hend + 4 + slen
    unknown = ssize == (1 << (7 * slen)) - 1  # streaming: size unknown
    send = n if unknown else min(spos + ssize, n)
    timescale, duration, n_tracks = 1_000_000, None, 0
    while spos < send:
        eid = _ebml_vint(raw, spos, mask=False)
        if eid is None:
            return None
        sz = _ebml_vint(raw, spos + eid[1], mask=True)
        if sz is None:
            return None
        body = spos + eid[1] + sz[1]
        if body + sz[0] > n:
            return None
        if eid[0] == 0x1549A966:  # Info
            cpos, cend = body, body + sz[0]
            while cpos < cend:
                cid = _ebml_vint(raw, cpos, mask=False)
                if cid is None:
                    return None
                csz = _ebml_vint(raw, cpos + cid[1], mask=True)
                if csz is None:
                    return None
                cbody = cpos + cid[1] + csz[1]
                val = raw[cbody : cbody + csz[0]]
                if cid[0] == 0x2AD7B1:  # TimestampScale (ns per tick)
                    timescale = int.from_bytes(val, "big")
                elif cid[0] == 0x4489:  # Duration (float ticks)
                    if len(val) == 4:
                        duration = struct.unpack(">f", val)[0]
                    elif len(val) == 8:
                        duration = struct.unpack(">d", val)[0]
                cpos = cbody + csz[0]
        elif eid[0] == 0x1654AE6B:  # Tracks
            cpos, cend = body, body + sz[0]
            while cpos < cend:
                cid = _ebml_vint(raw, cpos, mask=False)
                if cid is None:
                    return None
                csz = _ebml_vint(raw, cpos + cid[1], mask=True)
                if csz is None:
                    return None
                if cid[0] == 0xAE:  # TrackEntry
                    n_tracks += 1
                cpos = cpos + cid[1] + csz[1] + csz[0]
        spos = body + sz[0]
    if duration is None or timescale == 0:
        return None
    ms = duration * min(timescale, 2**31 - 1) / 1_000_000
    if ms != ms:  # NaN Duration element
        return None
    return {
        "brand": doctype,
        "timescale": min(timescale, 2**31 - 1),
        "duration_ms": int(min(max(ms, -(2**63)), 2**63 - 1024)),
        "n_tracks": n_tracks,
    }
