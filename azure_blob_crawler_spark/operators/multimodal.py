"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The reference's multimodal story is the binary-placeholder span
(file_extractor.py:103-106): unsupported types index one metadata line. The
engine keeps the bytes as a first-class column and provides the Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signatures, partitioning —
for decode / feature-extract / resize / frame-sample stages.

Codec tiers:

- ``decode_media_stdlib`` — REAL decoding for the formats the standard
  library covers: WAV audio (``wave``: sample rate, channels, duration,
  RMS loudness over a mono downmix), binary PPM/PGM images (header +
  pixel parse), PNG (zlib-inflated IDAT + per-scanline unfilter, types
  0-4, 8-bit non-interlaced gray/gray+alpha/RGB/RGBA/palette) and GIF
  (LZW decompress of the first frame + palette lookup) — each resized
  true-nearest-neighbor to a thumbnail feature grid. MP4/ISO-BMFF and
  MP3 yield REAL structural metadata (box-tree / frame-header walk:
  duration, dimensions, bitrate — what frame_sample_plan consumes)
  while frame/PCM payload decoding stays stubbed. Formats needing real
  codec libraries (JPEG, MP3 PCM, video frames…) come back with ``ok``
  carrying the reason (``codec-not-available``) — the DataFrame-native
  analog of the stub's NotImplementedError.
- ``decode_media`` — the hard-stub entry: raises NotImplementedError unless
  a codec module is importable (Pillow / ffmpeg are not in this container).
- ``fake_feature_extractor`` — deterministic hash-of-bytes stand-in
  preserving the exact Arrow batch shape a real encoder UDF would use.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("doc_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("bytes", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_DIM = 32


def synth_media_df(spark, docs: DataFrame) -> DataFrame:
    """Deterministic fake media rows for media spans (bytes = seeded blob)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, did in zip(pdf["media_ref"], pdf["doc_id"]):
                seed = zlib.crc32(ref.encode())
                rng = np.random.default_rng(seed)
                blob = rng.integers(0, 256, size=256 + seed % 512, dtype=np.uint8).tobytes()
                rows.append(
                    {
                        "media_ref": ref,
                        "doc_id": did,
                        "kind": "image",
                        "mime": "image/jpeg",
                        "bytes": blob,
                        "width": 16 + seed % 64,
                        "height": 16 + (seed >> 3) % 64,
                        "duration_ms": 0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    spans_media = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"), "doc_id")
    )
    return spans_media.mapInPandas(gen, MEDIA_SCHEMA)


def decode_ppm_py(data: bytes) -> np.ndarray:
    """Binary PPM (P6, RGB) / PGM (P5, gray) → uint8 array (h, w[, 3]).

    Header = magic, width, height, maxval as whitespace-separated tokens
    with ``#`` comments, then one whitespace byte and raw samples
    (maxval ≤ 255 supported — the common 8-bit case)."""
    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PPM/PGM")
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(data):
        c = data[i : i + 1]
        if c == b"#":
            i = data.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            tokens.append(data[i:j])
            i = j
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    i += 1  # single whitespace after maxval
    ch = 3 if data[:2] == b"P6" else 1
    pix = np.frombuffer(data, dtype=np.uint8, count=w * h * ch, offset=i)
    img = pix.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _unfilter_png(rows: np.ndarray, bpp: int) -> np.ndarray:
    """Invert the five PNG scanline filters over a (n_rows, 1+stride)
    filter-byte + filtered-bytes array → (n_rows, stride) reconstructed
    samples. Per the spec each (sub)image starts with an all-zero prior
    row, so Adam7 passes unfilter independently with the same code."""
    n, stride = rows.shape[0], rows.shape[1] - 1
    out = np.zeros((n, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    w = stride // bpp
    for y in range(n):
        f, cur = int(rows[y, 0]), rows[y, 1:]
        if f == 0:
            rec = cur.copy()
        elif f == 1:  # Sub: + left — mod-256 prefix sum per byte lane
            rec = np.add.accumulate(
                cur.reshape(w, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up (uint8 arithmetic wraps mod 256)
            rec = cur + prev
        elif f == 3:  # Average: left-dependent → per-pixel walk
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad scanline filter {f}")
        out[y] = rec
        prev = rec
    return out


# Adam7 pass grid: (x_start, y_start, x_step, y_step), spec order
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png_py(data: bytes) -> np.ndarray:
    """PNG → uint8 array (h, w[, channels]) using only zlib + numpy.

    Supports the still-image profile: color types 0 (gray), 2 (RGB), 3
    (palette), 4 (gray+alpha), 6 (RGBA) at 8-bit depth, plus 16-bit for
    the non-palette types (samples downscale to their high byte, the
    spec's depth-reduction approximation); all five scanline filters
    (None/Sub/Up/Average/Paeth) unfiltered per the spec; both
    non-interlaced and Adam7-interlaced layouts (each pass is an
    independently-filtered sub-image scattered onto its grid). Sub-byte
    depths and ancillary transforms (gAMA etc.) raise — those rows
    surface as per-row ``decode-error`` results, never task death."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    ihdr, idat, plte = None, [], None
    i = 8
    while i + 8 <= len(data):
        ln = int.from_bytes(data[i : i + 4], "big")
        typ = data[i + 4 : i + 8]
        chunk = data[i + 8 : i + 8 + ln]
        i += 12 + ln
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h = int.from_bytes(ihdr[0:4], "big"), int.from_bytes(ihdr[4:8], "big")
    depth, ctype, _comp, _filt, interlace = ihdr[8:13]
    if depth not in (8, 16) or (depth == 16 and ctype == 3):
        raise ValueError(f"bit depth {depth} unsupported for color type {ctype}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"color type {ctype} unsupported")
    sb = depth // 8  # bytes per sample; filters operate on raw BYTES
    bpp = channels * sb
    raw = zlib.decompress(b"".join(idat))
    stride = w * bpp
    if interlace == 1:  # Adam7: 7 independently-filtered sub-images
        buf = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            need = ph * (pw * bpp + 1)
            sub = raw[pos : pos + need]
            pos += need
            if len(sub) != need:
                raise ValueError("decompressed IDAT length mismatch")
            rec = _unfilter_png(
                np.frombuffer(sub, dtype=np.uint8).reshape(ph, pw * bpp + 1), bpp
            )
            buf[y0::dy, x0::dx] = rec.reshape(ph, pw, bpp)
        if pos != len(raw):
            raise ValueError("decompressed IDAT length mismatch")
    elif interlace == 0:
        if len(raw) != h * (stride + 1):
            raise ValueError("decompressed IDAT length mismatch")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        buf = _unfilter_png(rows, bpp).reshape(h, w, bpp)
    else:
        raise ValueError(f"bad interlace method {interlace}")
    # 16-bit samples are big-endian: byte 0 is the high byte = value >> 8
    img = buf.reshape(h, w, channels, sb)[:, :, :, 0]
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return pal[img[:, :, 0]]
    return img[:, :, 0] if channels == 1 else img


def _lzw_decode_gif(min_code_size: int, data: bytes) -> bytes:
    """GIF-variant LZW: LSB-first variable-width codes (up to 12 bits),
    CLEAR resets the dictionary, END stops."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    code_size = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, nbits = 0, len(data) * 8
    while bitpos + code_size <= nbits:
        code = 0
        for k in range(code_size):
            code |= ((data[(bitpos + k) >> 3] >> ((bitpos + k) & 7)) & 1) << k
        bitpos += code_size
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            code_size, next_code, prev = min_code_size + 1, end + 1, None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
            table[next_code] = prev + entry[:1]
            next_code += 1
        elif code == next_code:  # the KwKwK case
            entry = prev + prev[:1]
            table[next_code] = entry
            next_code += 1
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > {next_code}")
        out += entry
        prev = entry
        if next_code >= (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


def decode_gif_py(data: bytes) -> np.ndarray:
    """GIF87a/89a first frame → uint8 RGB array (h, w, 3): logical-screen
    + color-table parse, extension-block skip, LZW decompress, palette
    lookup, 4-pass de-interlace."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    gw = int.from_bytes(data[6:8], "little")
    gh = int.from_bytes(data[8:10], "little")
    packed = data[10]
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=i).reshape(n, 3)
        i += 3 * n
    while i < len(data):
        b = data[i]
        if b == 0x21:  # extension: label then sub-blocks until a 0 length
            i += 2
            while data[i]:
                i += data[i] + 1
            i += 1
        elif b == 0x2C:  # image descriptor
            w = int.from_bytes(data[i + 5 : i + 7], "little")
            h = int.from_bytes(data[i + 7 : i + 9], "little")
            ipacked = data[i + 9]
            i += 10
            pal = gct
            if ipacked & 0x80:  # local color table
                n = 2 ** ((ipacked & 0x07) + 1)
                pal = np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=i).reshape(n, 3)
                i += 3 * n
            if pal is None:
                raise ValueError("GIF frame without a color table")
            min_code = data[i]
            i += 1
            lzw = bytearray()
            while data[i]:
                ln = data[i]
                lzw += data[i + 1 : i + 1 + ln]
                i += ln + 1
            i += 1
            idx = np.frombuffer(
                _lzw_decode_gif(min_code, bytes(lzw)), dtype=np.uint8, count=w * h
            )
            rows = idx.reshape(h, w)
            if ipacked & 0x40:  # interlaced: stored as 4 row passes (8/8, 8/8+4, 4/4+2, 2/2+1)
                order = np.concatenate([
                    np.arange(0, h, 8), np.arange(4, h, 8),
                    np.arange(2, h, 4), np.arange(1, h, 2),
                ])
                de = np.empty_like(rows)
                de[order] = rows
                rows = de
            return pal[rows]
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError(f"no image frame in GIF ({gw}x{gh} screen)")


def decode_mp4_meta_py(data: bytes) -> dict:
    """ISO-BMFF (MP4/MOV) structural metadata without any codec: walk the
    box tree (size/type headers, 64-bit largesize supported), read duration
    and timescale from ``moov/mvhd`` and the first video track's pixel
    dimensions from its ``tkhd`` (16.16 fixed point), track kinds from
    ``hdlr``. Frame DECODING stays a declared stub — but this real parse
    gives ``frame_sample_plan`` its duration_ms and typed metadata, which
    is all the Spark-side plumbing needs."""

    def boxes(buf: bytes, start: int, end: int):
        i = start
        while i + 8 <= end:
            size = int.from_bytes(buf[i : i + 4], "big")
            typ = buf[i + 4 : i + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                size = int.from_bytes(buf[i + 8 : i + 16], "big")
                hdr = 16
            elif size == 0:  # box extends to end of enclosing scope
                size = end - i
            if size < hdr or i + size > end:
                raise ValueError("malformed MP4 box")
            yield typ, i + hdr, i + size
            i += size

    top = {t: (a, b) for t, a, b in boxes(data, 0, len(data))}
    if b"moov" not in top:
        raise ValueError("no moov box")
    duration_ms = 0
    width = height = None
    n_tracks = n_video = 0
    ma, mb = top[b"moov"]
    for typ, a, b in boxes(data, ma, mb):
        if typ == b"mvhd":
            ver = data[a]
            if ver == 1:
                timescale = int.from_bytes(data[a + 20 : a + 24], "big")
                duration = int.from_bytes(data[a + 24 : a + 32], "big")
            else:
                timescale = int.from_bytes(data[a + 12 : a + 16], "big")
                duration = int.from_bytes(data[a + 16 : a + 20], "big")
            duration_ms = int(duration * 1000 / timescale) if timescale else 0
        elif typ == b"trak":
            n_tracks += 1
            tkhd_wh, is_video = None, False
            for t2, a2, b2 in boxes(data, a, b):
                if t2 == b"tkhd":
                    # width/height are the last 8 bytes, 16.16 fixed
                    tkhd_wh = (
                        int.from_bytes(data[b2 - 8 : b2 - 4], "big") >> 16,
                        int.from_bytes(data[b2 - 4 : b2], "big") >> 16,
                    )
                elif t2 == b"mdia":
                    for t3, a3, b3 in boxes(data, a2, b2):
                        if t3 == b"hdlr" and data[a3 + 8 : a3 + 12] == b"vide":
                            is_video = True
            if is_video:
                n_video += 1
                if width is None and tkhd_wh:
                    width, height = tkhd_wh
    return {
        "duration_ms": duration_ms,
        "width": width,
        "height": height,
        "n_tracks": n_tracks,
        "n_video_tracks": n_video,
    }


def looks_like_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


# Layer III bitrates (kbps) by index 1..14; row 1 = MPEG-1, row 2 = MPEG-2/2.5
_MP3_BITRATES = {
    1: (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# sample rates by version bits (11=MPEG-1, 10=MPEG-2, 00=MPEG-2.5)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def decode_mp3_meta_py(data: bytes) -> dict:
    """MPEG-1/2/2.5 Layer III structural metadata without a codec: skip any
    ID3v2 tag (syncsafe size), then walk consecutive frame headers —
    sync / version / layer / bitrate index / sample-rate index / padding /
    channel mode — stepping by each frame's spec length
    (samples_per_frame/8 × bitrate ÷ sample_rate + padding) and summing
    per-frame duration, so VBR streams report their true duration and
    average bitrate. PCM decode (Huffman + IMDCT) stays the declared stub;
    this is the audio twin of ``decode_mp4_meta_py``'s box walk. Trailing
    ID3v1 (``TAG``) and zero padding after the last frame are tolerated;
    anything else that breaks sync raises (per-row failure isolation
    upstream turns that into an ``ok=decode-error`` row)."""
    i = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = 0
        for b in data[6:10]:
            size = (size << 7) | (b & 0x7F)  # syncsafe: 7 bits per byte
        i = 10 + size
    n_frames = 0
    sample_rate = n_ch = None
    total_ms = 0.0
    kbps_sum = 0
    while i + 4 <= len(data):
        if data[i : i + 3] == b"TAG":  # ID3v1 trailer
            break
        h = int.from_bytes(data[i : i + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            if n_frames and data[i:].rstrip(b"\x00") == b"":
                break  # zero padding after the last frame
            raise ValueError(f"lost MP3 frame sync at byte {i}")
        ver_bits = (h >> 19) & 3
        if ver_bits == 1 or (h >> 17) & 3 != 1:
            raise ValueError("reserved MPEG version or not Layer III")
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("free-format/bad bitrate or reserved sample rate")
        mpeg1 = ver_bits == 3
        rate = _MP3_RATES[ver_bits][sr_idx]
        kbps = _MP3_BITRATES[1 if mpeg1 else 2][br_idx - 1]
        spf = 1152 if mpeg1 else 576  # samples per Layer III frame
        if sample_rate is None:
            sample_rate = rate
            n_ch = 1 if (h >> 6) & 3 == 3 else 2  # mode 11 = single channel
        n_frames += 1
        total_ms += spf * 1000.0 / rate
        kbps_sum += kbps
        i += spf // 8 * (kbps * 1000) // rate + ((h >> 9) & 1)
    if not n_frames:
        raise ValueError("no MP3 frames")
    return {
        "sample_rate": sample_rate,
        "n_channels": n_ch,
        "duration_ms": int(total_ms),
        "avg_bitrate_kbps": kbps_sum / n_frames,
        "n_frames": n_frames,
    }


def looks_like_mp3(data: bytes) -> bool:
    # ID3v2-tagged, or a bare frame header: 11-bit sync, Layer III,
    # non-reserved version
    return data[:3] == b"ID3" or (
        len(data) >= 2
        and data[0] == 0xFF
        and (data[1] & 0xE6) == 0xE2
        and (data[1] & 0x18) != 0x08
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """True nearest-neighbor resize (pure numpy index maps)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]


def decode_wav_py(data: bytes) -> dict:
    """WAV via the stdlib ``wave`` module: params + RMS loudness of the
    mono-downmixed PCM (8/16/32-bit)."""
    import io
    import wave

    with wave.open(io.BytesIO(data)) as wf:
        n_ch, sampwidth, rate, n_frames = (
            wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes(),
        )
        raw = wf.readframes(n_frames)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        raise ValueError(f"unsupported WAV sample width: {sampwidth}")
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sampwidth == 1:
        x -= 128.0  # 8-bit WAV is unsigned
    x /= float(2 ** (8 * sampwidth - 1))
    if n_ch > 1:
        x = x[: (len(x) // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    return {
        "sample_rate": rate,
        "n_channels": n_ch,
        "duration_ms": int(n_frames * 1000 / rate) if rate else 0,
        "rms": rms,
    }


DECODED_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("doc_id", StringType()),
        StructField("kind", StringType()),
        StructField("ok", StringType()),       # 'ok' | reason the decode skipped
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("rms", FloatType()),
        StructField("thumb", ArrayType(FloatType())),  # resized gray grid, row-major
    ]
)


def decode_media_stdlib(media: DataFrame, thumb: int = 8) -> DataFrame:
    """Real decode stage for stdlib-coverable formats (see module
    docstring); one Arrow batch per ``mapInPandas`` call, same contract a
    Pillow/ffmpeg-backed decoder would run under. Rows whose bytes need an
    external codec come back with ``ok`` carrying the reason."""

    def gray_of(img: np.ndarray) -> np.ndarray:
        if img.ndim == 2:
            return img.astype(np.float64)
        if img.shape[2] == 2:  # gray + alpha
            return img[:, :, 0].astype(np.float64)
        return img[:, :, :3].mean(axis=2)  # RGB / RGBA (alpha excluded)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DECODED_SCHEMA.fields]
        image_decoders = (
            (lambda d: d[:2] in (b"P5", b"P6"), decode_ppm_py),
            (lambda d: d[:8] == PNG_SIG, decode_png_py),
            (lambda d: d[:6] in (b"GIF87a", b"GIF89a"), decode_gif_py),
        )
        for pdf in batches:
            rows = []
            for ref, did, b in zip(pdf["media_ref"], pdf["doc_id"], pdf["bytes"]):
                data = bytes(b) if b is not None else b""
                row = dict.fromkeys(cols)
                row.update(media_ref=ref, doc_id=did)
                try:
                    decoder = next(
                        (fn for match, fn in image_decoders if match(data)), None
                    )
                    if decoder is not None:
                        img = decoder(data)
                        t = resize_nearest(gray_of(img), thumb, thumb)
                        row.update(
                            kind="image", ok="ok",
                            width=int(img.shape[1]), height=int(img.shape[0]),
                            thumb=(t.astype(np.float32) / 255.0).ravel().tolist(),
                        )
                    elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                        meta = decode_wav_py(data)
                        row.update(
                            kind="audio", ok="ok",
                            duration_ms=meta["duration_ms"],
                            sample_rate=meta["sample_rate"],
                            rms=np.float32(meta["rms"]),
                        )
                    elif looks_like_mp3(data):
                        meta = decode_mp3_meta_py(data)
                        # frame-header walk is real; PCM decode remains the
                        # declared stub (needs an MP3 codec) → no rms
                        row.update(
                            kind="audio", ok="ok",
                            duration_ms=meta["duration_ms"],
                            sample_rate=meta["sample_rate"],
                        )
                    elif looks_like_mp4(data):
                        meta = decode_mp4_meta_py(data)
                        # structural metadata is real; FRAME decode remains
                        # the declared stub (needs a video codec)
                        row.update(
                            kind="video", ok="ok",
                            duration_ms=meta["duration_ms"],
                            width=meta["width"], height=meta["height"],
                        )
                    else:
                        row.update(
                            kind="unknown",
                            ok="codec-not-available (needs Pillow/ffmpeg)",
                        )
                except Exception as e:  # torn file → per-row failure, not task death
                    row.update(kind="unknown", ok=f"decode-error: {e}")
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(run, DECODED_SCHEMA)


def decode_media(media: DataFrame) -> DataFrame:
    """Real decode stage — requires a codec library, absent here.

    On a real cluster: swap the body for PIL.Image.open(BytesIO(b)) /
    av.open(...) inside the same mapInPandas contract."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "media decode needs Pillow/ffmpeg, not present in this container; "
            "use fake_feature_extractor for the tested plumbing"
        ) from e
    raise NotImplementedError("codec wiring is deployment-specific")


def fake_feature_extractor(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic bytes → feature vector (md5-seeded), preserving the
    exact Arrow batch shape a real encoder UDF would use."""

    @F.pandas_udf(ArrayType(FloatType()))
    def feats(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(np.zeros(dim, dtype=np.float32))
                continue
            digest = hashlib.md5(bytes(b)).digest()
            seed = int.from_bytes(digest[:8], "little")
            rng = np.random.default_rng(seed)
            v = rng.standard_normal(dim)
            out.append((v / max(np.linalg.norm(v), 1e-9)).astype(np.float32))
        return pd.Series(out)

    return media.withColumn("features", feats(F.col("bytes")))


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video → frame-timestamp explosion (plumbing only: the decode of each
    frame is the stubbed stage). Native sequence/explode, no Python."""
    ts = F.sequence(
        F.lit(0).cast("long"), F.greatest(F.col("duration_ms") - 1, F.lit(0).cast("long")),
        F.lit(every_ms).cast("long"),
    )
    return media.filter(F.col("kind") == "video").select(
        "media_ref", "doc_id", F.explode(ts).alias("frame_ts_ms")
    )
