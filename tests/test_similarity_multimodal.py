"""ANN similarity (brute force vs IVF recall) and multimodal plumbing."""

import numpy as np
import pytest

from azure_blob_crawler_spark.operators import multimodal as MM
from azure_blob_crawler_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(400)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()


def test_brute_force_topk_deterministic(emb):
    q = [float(x) for x in np.random.default_rng(1).standard_normal(64)]
    a = [r["vec_id"] for r in SIM.brute_force_topk(emb, q, k=10).collect()]
    b = [r["vec_id"] for r in SIM.brute_force_topk(emb, q, k=10).collect()]
    assert a == b and len(a) == 10


def test_ivf_recall(emb):
    q = [float(x) for x in np.random.default_rng(2).standard_normal(64)]
    exact = {r["vec_id"] for r in SIM.brute_force_topk(emb, q, k=10).collect()}
    cents = SIM.train_centroids(emb, n_cells=8, sample=400)
    with_cells = SIM.assign_cells(emb, cents).persist()
    got = {r["vec_id"] for r in SIM.ivf_topk(with_cells, cents, q, k=10, n_probe=4).collect()}
    assert len(exact & got) >= 6  # ≥60% recall probing half the cells
    full = {r["vec_id"] for r in SIM.ivf_topk(with_cells, cents, q, k=10, n_probe=8).collect()}
    assert full == exact  # probing all cells = exact


def test_media_plumbing(spark):
    from azure_blob_crawler_spark.sources.synthetic import documents_with_spans

    docs = documents_with_spans(spark, "/root/testdata/sf0.001")
    media = MM.synth_media_df(spark, docs).persist()
    assert media.count() > 0
    assert media.schema == MM.MEDIA_SCHEMA
    feats = MM.fake_feature_extractor(media)
    row = feats.select("media_ref", "features").first()
    assert len(row["features"]) == MM.FEATURE_DIM
    # deterministic across invocations
    row2 = MM.fake_feature_extractor(media).select("media_ref", "features").first()
    assert row["features"] == row2["features"]


def test_decode_stub_raises(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame([{"media_ref": "x", "doc_id": "d", "kind": "image",
                       "mime": "image/jpeg", "bytes": b"123", "width": 1,
                       "height": 1, "duration_ms": 0}]), schema=MM.MEDIA_SCHEMA
    )
    with pytest.raises(NotImplementedError):
        MM.decode_media(media)


def test_frame_sample_plan(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame([{"media_ref": "v", "doc_id": "d", "kind": "video",
                       "mime": "video/mp4", "bytes": b"x", "width": 0,
                       "height": 0, "duration_ms": 3500}]), schema=MM.MEDIA_SCHEMA
    )
    frames = MM.frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The on-disk IVF probe must (a) return exactly the in-memory probe's
    result and (b) show the cell predicate as a PartitionFilter in the scan
    (unprobed cells' files never open)."""
    from azure_blob_crawler_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.train_centroids(emb, n_cells=8, sample=256)
    with_cells = SIM.assign_cells(emb, cents)
    idx = str(tmp_path / "ivf")
    SIM.write_ivf_index(with_cells, idx)

    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    from_index = SIM.ivf_topk_from_index(spark, idx, cents, qv, k=5, n_probe=3)
    in_mem = SIM.ivf_topk(with_cells, cents, qv, k=5, n_probe=3)
    assert [r["vec_id"] for r in from_index.collect()] == [
        r["vec_id"] for r in in_mem.collect()
    ]
    plan = from_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def _make_ppm(w, h):
    """Deterministic P6 gradient image + its numpy ground truth."""
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[:, :, 0] = (np.arange(w)[None, :] * 255 // max(w - 1, 1)).astype(np.uint8)
    img[:, :, 1] = (np.arange(h)[:, None] * 255 // max(h - 1, 1)).astype(np.uint8)
    img[:, :, 2] = 7
    header = f"P6\n# gradient\n{w} {h}\n255\n".encode()
    return header + img.tobytes(), img


def _make_wav(rate=8000, freq=440.0, seconds=0.5, n_ch=2):
    import io
    import wave

    t = np.arange(int(rate * seconds)) / rate
    x = (np.sin(2 * np.pi * freq * t) * 0.5 * 32767).astype(np.int16)
    frames = np.repeat(x, n_ch).tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_ch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(frames)
    return buf.getvalue()


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        len(payload).to_bytes(4, "big") + typ + payload
        + zlib.crc32(typ + payload).to_bytes(4, "big")
    )


def _filter_scanlines(flat: np.ndarray, bpp: int, filters: list[int]) -> bytearray:
    """Forward-filter a (rows, stride) sample grid per RFC 2083 — shared by
    the plain and Adam7 encoders (each Adam7 pass filters independently)."""
    flat = flat.astype(np.int32)
    out = bytearray()
    prev = np.zeros(flat.shape[1], dtype=np.int32)
    for y in range(flat.shape[0]):
        raw = flat[y]
        f = filters[y % len(filters)]
        left = np.concatenate([np.zeros(bpp, np.int32), raw[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if f == 0:
            filt = raw
        elif f == 1:
            filt = raw - left
        elif f == 2:
            filt = raw - prev
        elif f == 3:
            filt = raw - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = raw - pred
        out += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = raw
    return out


def _make_png(img: np.ndarray, ctype: int, filters: list[int], plte: bytes = b""):
    """Spec-forward PNG encoder: applies the REQUESTED filter to each
    scanline (the filtering direction RFC 2083 defines), zlib-compresses,
    and frames the chunks. The decoder must invert every filter type."""
    import zlib

    h, w = img.shape[:2]
    channels = 1 if img.ndim == 2 else img.shape[2]
    out = _filter_scanlines(img.reshape(h, w * channels), channels, filters)
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, 0])
    )
    body = _png_chunk(b"IHDR", ihdr)
    if plte:
        body += _png_chunk(b"PLTE", plte)
    comp = zlib.compress(bytes(out))
    # split IDAT in two to exercise multi-chunk reassembly
    body += _png_chunk(b"IDAT", comp[: len(comp) // 2])
    body += _png_chunk(b"IDAT", comp[len(comp) // 2 :])
    return MM.PNG_SIG + body + _png_chunk(b"IEND", b"")


def _interlace_rows(h: int) -> np.ndarray:
    """GIF 4-pass interlace storage order of display rows."""
    return np.concatenate([
        np.arange(0, h, 8), np.arange(4, h, 8),
        np.arange(2, h, 4), np.arange(1, h, 2),
    ])


def _make_gif(idx: np.ndarray, palette: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder: literal LZW codes only, mirroring the
    decoder's width-growth rule so widths stay in sync; optional 4-pass
    interlaced row storage."""
    h, w = idx.shape
    if interlace:
        idx = idx[_interlace_rows(h)]
    n_pal = len(palette)
    pal_bits = max(1, (n_pal - 1).bit_length())
    pal_size = 1 << pal_bits
    gct = np.zeros((pal_size, 3), np.uint8)
    gct[:n_pal] = palette
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (pal_bits - 1), 0, 0]) + gct.tobytes()
    out += b"\x21\xfe\x05hello\x00"  # comment extension (must be skipped)
    ipacked = 0x40 if interlace else 0x00
    out += (b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little")
            + h.to_bytes(2, "little") + bytes([ipacked]))
    min_code = max(2, pal_bits)
    clear, end = 1 << min_code, (1 << min_code) + 1
    out += bytes([min_code])
    bits: list[int] = []
    code_size, next_code = min_code + 1, end + 1

    def emit(code):
        bits.extend((code >> k) & 1 for k in range(code_size))

    emit(clear)
    first = True
    for px in idx.ravel():
        emit(int(px))
        if first:
            first = False
        else:
            next_code += 1  # decoder adds one table entry per non-first code
        if next_code >= (1 << code_size) and code_size < 12:
            code_size += 1
    emit(end)
    data = bytearray()
    for i in range(0, len(bits), 8):
        data.append(sum(b << k for k, b in enumerate(bits[i : i + 8])))
    for i in range(0, len(data), 255):
        block = bytes(data[i : i + 255])
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"
    return bytes(out)


def test_decode_png_all_filters_and_color_types():
    rng = np.random.default_rng(42)
    filters = [0, 1, 2, 3, 4]
    # gray (0), RGB (2), gray+alpha (4), RGBA (6)
    for ctype, shape in ((0, (10, 7)), (2, (10, 7, 3)), (4, (9, 5, 2)), (6, (11, 6, 4))):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = MM.decode_png_py(_make_png(img, ctype, filters))
        assert np.array_equal(got, img), f"ctype={ctype}"
    # palette (3): decoder returns the RGB-expanded image
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    pidx = rng.integers(0, 16, size=(8, 8), dtype=np.uint8)
    got = MM.decode_png_py(_make_png(pidx, 3, filters, plte=pal.tobytes()))
    assert np.array_equal(got, pal[pidx])


def _make_png_adam7(img: np.ndarray, ctype: int, filters: list[int]) -> bytes:
    """Adam7 encoder built forward from the spec: split the image into the
    7 pass sub-images, filter each pass independently, concatenate, then
    frame with interlace=1 in IHDR."""
    import zlib

    h, w = img.shape[:2]
    channels = 1 if img.ndim == 2 else img.shape[2]
    grid = img.reshape(h, w, channels)
    out = bytearray()
    for x0, y0, dx, dy in MM._ADAM7:
        sub = grid[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        out += _filter_scanlines(
            sub.reshape(sub.shape[0], sub.shape[1] * channels), channels, filters
        )
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 1])
    body = _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
    return MM.PNG_SIG + body + _png_chunk(b"IEND", b"")


def test_decode_png_adam7_interlaced():
    rng = np.random.default_rng(11)
    # 13x11: not a multiple of 8, so several passes have ragged extents
    for ctype, shape in ((2, (13, 11, 3)), (0, (13, 11)), (6, (9, 5, 4))):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = MM.decode_png_py(_make_png_adam7(img, ctype, [0, 1, 2, 3, 4]))
        assert np.array_equal(got, img), f"ctype {ctype}"
    # tiny images where late passes are empty (1x1 only has pass 1)
    one = np.array([[7]], dtype=np.uint8)
    assert np.array_equal(MM.decode_png_py(_make_png_adam7(one, 0, [0])), one)


def _make_png16(img16: np.ndarray, ctype: int, filters: list[int]) -> bytes:
    """16-bit spec-forward encoder: samples serialized big-endian, filters
    applied to the raw BYTE stream (the spec filters bytes, not samples)."""
    import zlib

    h, w = img16.shape[:2]
    c = 1 if img16.ndim == 2 else img16.shape[2]
    rows = np.frombuffer(img16.astype(">u2").tobytes(), np.uint8).reshape(h, w * c * 2)
    out = _filter_scanlines(rows, c * 2, filters)
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, ctype, 0, 0, 0])
    return (
        MM.PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out))) + _png_chunk(b"IEND", b"")
    )


def test_decode_png_16bit_high_byte():
    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 65536, size=(7, 5, 3), dtype=np.uint16)
    got = MM.decode_png_py(_make_png16(rgb, 2, [0, 1, 2, 3, 4]))
    assert got.dtype == np.uint8 and np.array_equal(got, (rgb >> 8).astype(np.uint8))
    gray = rng.integers(0, 65536, size=(6, 4), dtype=np.uint16)
    got = MM.decode_png_py(_make_png16(gray, 0, [4, 3]))
    assert np.array_equal(got, (gray >> 8).astype(np.uint8))


def test_decode_png_rejects_unsupported():
    img = np.zeros((4, 4, 3), np.uint8)
    data = bytearray(_make_png(img, 2, [0]))
    data[24] = 4  # sub-byte depth inside IHDR
    with pytest.raises(ValueError, match="bit depth"):
        MM.decode_png_py(bytes(data))
    # 16-bit palette is not a legal combination
    pal_img = np.zeros((2, 2), np.uint8)
    data = bytearray(_make_png(pal_img, 3, [0], plte=bytes(6)))
    data[24] = 16
    with pytest.raises(ValueError, match="bit depth"):
        MM.decode_png_py(bytes(data))
    data = bytearray(_make_png(img, 2, [0]))
    data[28] = 2  # bogus interlace method (0 and 1 are the spec's only two)
    with pytest.raises(ValueError, match="interlace method"):
        MM.decode_png_py(bytes(data))
    data = bytearray(_make_png(img, 2, [0]))
    data[28] = 1  # claims Adam7 but carries a non-interlaced layout
    with pytest.raises(ValueError, match="length mismatch"):
        MM.decode_png_py(bytes(data))


def test_decode_gif_lzw_exact():
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(12, 9), dtype=np.uint8)
    got = MM.decode_gif_py(_make_gif(idx, pal))
    assert np.array_equal(got, pal[idx])
    # wide image crossing the 255-byte sub-block boundary
    idx2 = rng.integers(0, 8, size=(40, 30), dtype=np.uint8)
    assert np.array_equal(MM.decode_gif_py(_make_gif(idx2, pal)), pal[idx2])


def test_decode_gif_interlaced():
    rng = np.random.default_rng(8)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    for h in (13, 16, 3, 1):  # odd, multiple-of-8, tiny, single-row
        idx = rng.integers(0, 8, size=(h, 9), dtype=np.uint8)
        data = _make_gif(idx, pal, interlace=True)
        assert np.array_equal(MM.decode_gif_py(data), pal[idx]), h
        # storage order genuinely differs from display order past 4 rows
        if h >= 5:
            plain = _make_gif(idx, pal, interlace=False)
            assert data != plain


def test_decode_media_stdlib_png_gif_rows(spark):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 12, 4), dtype=np.uint8)  # RGBA
    png = _make_png(img, 6, [0, 1, 2, 3, 4])
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(6, 10), dtype=np.uint8)
    gif = _make_gif(idx, pal)
    rows = [("png1", "d1", bytearray(png)), ("gif1", "d2", bytearray(gif))]
    df = spark.createDataFrame(rows, "media_ref string, doc_id string, bytes binary")
    got = {r["media_ref"]: r for r in MM.decode_media_stdlib(df, thumb=4).collect()}
    assert got["png1"]["ok"] == "ok" and got["png1"]["kind"] == "image"
    assert (got["png1"]["width"], got["png1"]["height"]) == (12, 16)
    want = (
        MM.resize_nearest(img[:, :, :3].mean(axis=2), 4, 4).astype(np.float32) / 255.0
    ).ravel()
    assert np.allclose(got["png1"]["thumb"], want, atol=1e-6)
    assert got["gif1"]["ok"] == "ok"
    assert (got["gif1"]["width"], got["gif1"]["height"]) == (10, 6)


def _box(typ: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return (1).to_bytes(4, "big") + typ + (len(payload) + 16).to_bytes(8, "big") + payload
    return (len(payload) + 8).to_bytes(4, "big") + typ + payload


def _make_mp4(duration_s=12.5, timescale=1000, w=320, h=240) -> bytes:
    mvhd = bytes(4) + bytes(8) + timescale.to_bytes(4, "big") + int(
        duration_s * timescale
    ).to_bytes(4, "big") + bytes(80)
    tkhd = bytes(4) + bytes(12) + (1).to_bytes(4, "big") + bytes(4) + bytes(4) + bytes(
        52
    ) + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    hdlr_v = bytes(8) + b"vide" + bytes(12) + b"VideoHandler\x00"
    hdlr_a = bytes(8) + b"soun" + bytes(12) + b"SoundHandler\x00"
    trak_v = _box(b"trak", _box(b"tkhd", tkhd) + _box(b"mdia", _box(b"hdlr", hdlr_v)))
    trak_a = _box(b"trak", _box(b"tkhd", bytes(len(tkhd))) + _box(b"mdia", _box(b"hdlr", hdlr_a)))
    moov = _box(b"moov", _box(b"mvhd", mvhd) + trak_a + trak_v, large=True)
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov + _box(b"mdat", b"\x00" * 32)


def test_decode_mp4_structural_metadata():
    data = _make_mp4()
    assert MM.looks_like_mp4(data)
    meta = MM.decode_mp4_meta_py(data)
    assert meta["duration_ms"] == 12500
    assert (meta["width"], meta["height"]) == (320, 240)
    assert meta["n_tracks"] == 2 and meta["n_video_tracks"] == 1
    with pytest.raises(ValueError):
        MM.decode_mp4_meta_py(_box(b"ftyp", b"isom") + _box(b"free", b""))


def _mp3_frame(ver_bits: int, kbps: int, rate: int, sr_idx: int, pad: int,
               mode: int) -> bytes:
    """Encode one Layer III frame forward from ISO/IEC 11172-3 §2.4.1:
    header bitfields packed by hand, body length from the spec formula
    samples_per_frame/8 × bitrate ÷ sample_rate + padding."""
    table = MM._MP3_BITRATES[1 if ver_bits == 3 else 2]
    h = (0x7FF << 21) | (ver_bits << 19) | (1 << 17) | (1 << 16)  # sync/ver/LayerIII/no-CRC
    h |= ((table.index(kbps) + 1) << 12) | (sr_idx << 10) | (pad << 9) | (mode << 6)
    spf = 1152 if ver_bits == 3 else 576
    frame_len = spf // 8 * (kbps * 1000) // rate + pad
    return h.to_bytes(4, "big") + b"\xaa" * (frame_len - 4)


def _make_mp3(frames: list[bytes], id3v2: bool = True, id3v1: bool = False) -> bytes:
    tag = b""
    if id3v2:
        payload = b"TIT2\x00\x00\x00\x05\x00\x00\x00titl"  # arbitrary tag bytes
        sz = len(payload)
        syncsafe = bytes(((sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F))
        tag = b"ID3\x04\x00\x00" + syncsafe + payload
    return tag + b"".join(frames) + (b"TAG" + b"\x00" * 125 if id3v1 else b"")


def test_decode_mp3_meta_vbr_and_padding():
    # MPEG-1, 44100 Hz (sr_idx 0), VBR 128/192/128, padding on the middle
    # frame, joint stereo (mode 01), ID3v2 front tag + ID3v1 trailer
    frames = [
        _mp3_frame(3, 128, 44100, 0, 0, 1),
        _mp3_frame(3, 192, 44100, 0, 1, 1),
        _mp3_frame(3, 128, 44100, 0, 0, 1),
    ]
    data = _make_mp3(frames, id3v1=True)
    assert MM.looks_like_mp3(data)
    meta = MM.decode_mp3_meta_py(data)
    assert meta["n_frames"] == 3 and meta["n_channels"] == 2
    assert meta["sample_rate"] == 44100
    assert meta["duration_ms"] == int(3 * 1152 * 1000.0 / 44100)  # 78 ms
    assert meta["avg_bitrate_kbps"] == pytest.approx((128 + 192 + 128) / 3)


def test_decode_mp3_meta_mpeg25_mono_and_errors():
    # MPEG-2.5 (ver bits 00), 8000 Hz (sr_idx 2), 576 samples/frame, mono
    frames = [_mp3_frame(0, 32, 8000, 2, 0, 3)] * 4
    meta = MM.decode_mp3_meta_py(_make_mp3(frames, id3v2=False))
    assert meta["n_channels"] == 1 and meta["sample_rate"] == 8000
    assert meta["duration_ms"] == int(4 * 576 * 1000.0 / 8000)  # 288 ms
    # trailing zero padding after the last frame is tolerated
    MM.decode_mp3_meta_py(_make_mp3(frames, id3v2=False) + b"\x00" * 17)
    with pytest.raises(ValueError):  # garbage between frames breaks sync
        MM.decode_mp3_meta_py(frames[0] + b"junk" + frames[0])
    # torn download: final frame body truncated — header already counted
    torn = MM.decode_mp3_meta_py(_make_mp3(frames, id3v2=False)[:-40])
    assert torn["n_frames"] == 4
    with pytest.raises(ValueError):  # ID3 tag with no audio after it
        MM.decode_mp3_meta_py(_make_mp3([], id3v2=True))


def test_mp3_row_through_decode_media_stdlib(spark):
    data = _make_mp3([_mp3_frame(3, 128, 44100, 0, 0, 1)] * 2)
    df = spark.createDataFrame(
        [("a1", "d1", bytearray(data))], "media_ref string, doc_id string, bytes binary"
    )
    rows = {r["media_ref"]: r for r in MM.decode_media_stdlib(df).collect()}
    assert rows["a1"]["ok"] == "ok" and rows["a1"]["kind"] == "audio"
    assert rows["a1"]["sample_rate"] == 44100
    assert rows["a1"]["duration_ms"] == int(2 * 1152 * 1000.0 / 44100)
    assert rows["a1"]["rms"] is None  # PCM decode is the declared stub


def test_mp4_feeds_frame_sample_plan(spark):
    data = _make_mp4(duration_s=3.0)
    df = spark.createDataFrame(
        [("v1", "d1", bytearray(data))], "media_ref string, doc_id string, bytes binary"
    )
    decoded = MM.decode_media_stdlib(df)
    rows = {r["media_ref"]: r for r in decoded.collect()}
    assert rows["v1"]["ok"] == "ok" and rows["v1"]["kind"] == "video"
    assert rows["v1"]["duration_ms"] == 3000
    frames = MM.frame_sample_plan(decoded, every_ms=1000).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000]


def test_decode_ppm_and_resize_exact():
    data, img = _make_ppm(20, 12)
    got = MM.decode_ppm_py(data)
    assert np.array_equal(got, img)
    small = MM.resize_nearest(img[:, :, 0], 4, 4)
    rows = (np.arange(4) * 12 // 4)
    cols = (np.arange(4) * 20 // 4)
    assert np.array_equal(small, img[:, :, 0][rows][:, cols])


def test_decode_wav_params_and_rms():
    data = _make_wav()
    meta = MM.decode_wav_py(data)
    assert meta["sample_rate"] == 8000 and meta["n_channels"] == 2
    assert meta["duration_ms"] == 500
    # RMS of a 0.5-amplitude sine ≈ 0.5/√2
    assert abs(meta["rms"] - 0.5 / np.sqrt(2)) < 0.01


def test_decode_media_stdlib_dataframe(spark):
    """Real decode through the mapInPandas contract: PPM and WAV rows decode
    genuinely; codec-needing bytes come back with the reason, not an error."""
    ppm, img = _make_ppm(16, 16)
    wav = _make_wav(seconds=0.25, n_ch=1)
    rows = [
        ("img1", "d1", bytearray(ppm)),
        ("aud1", "d2", bytearray(wav)),
        # JPEG needs a codec library: codec-not-available, not an error
        ("jpg1", "d3", bytearray(b"\xff\xd8\xff\xe0 jpeg-ish")),
        # torn MP3: routed to the REAL frame-header walk since round 5 → a
        # per-row decode-error; genuinely unknown bytes keep the old reason
        ("mp3", "d5", bytearray(b"ID3\x04\x00 mp3-ish frames")),
        ("unk", "d6", bytearray(b"\x00\x01no known magic")),
        ("torn", "d4", bytearray(b"P6\n4 4\n255\n\x00")),  # truncated pixels
    ]
    df = spark.createDataFrame(rows, "media_ref string, doc_id string, bytes binary")
    got = {r["media_ref"]: r for r in MM.decode_media_stdlib(df, thumb=4).collect()}
    assert got["img1"]["ok"] == "ok" and got["img1"]["kind"] == "image"
    assert (got["img1"]["width"], got["img1"]["height"]) == (16, 16)
    gray = img.mean(axis=2)
    want_thumb = (MM.resize_nearest(gray, 4, 4).astype(np.float32) / 255.0).ravel()
    assert np.allclose(got["img1"]["thumb"], want_thumb, atol=1e-6)
    assert got["aud1"]["ok"] == "ok" and got["aud1"]["kind"] == "audio"
    assert got["aud1"]["duration_ms"] == 250 and got["aud1"]["sample_rate"] == 8000
    assert got["jpg1"]["ok"].startswith("codec-not-available")
    assert got["mp3"]["ok"].startswith("decode-error")
    assert got["unk"]["ok"].startswith("codec-not-available")
    assert got["torn"]["ok"].startswith("decode-error")
