"""Multimodal plumbing tests: binary columns, Arrow-batched decode stub,
frame-sampling plan."""

import pytest

from hive_scripts_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [(0, "an image payload"), (1, "another payload"), (2, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_binarize_schema(payloads):
    b = M.binarize(payloads, "text")
    assert dict(b.dtypes) == {
        "doc_id": "bigint",
        "payload": "binary",
        "modality": "string",
        "byte_len": "int",
    }
    row = {r["doc_id"]: r for r in b.collect()}
    assert bytes(row[0]["payload"]) == b"an image payload"
    assert row[0]["byte_len"] == 16


def test_decode_meta_deterministic(payloads):
    import hashlib

    out1 = {r["doc_id"]: tuple(r) for r in M.decode_image_meta(M.binarize(payloads, "text"), fake=True).collect()}
    out2 = {r["doc_id"]: tuple(r) for r in M.decode_image_meta(M.binarize(payloads, "text"), fake=True).collect()}
    assert out1 == out2  # deterministic fake decode
    d = hashlib.md5(b"an image payload").hexdigest()
    r = out1[0]
    assert r[2] == d
    assert r[3] == 1 + int(d[:4], 16) % 1024
    assert 1 <= r[4] <= 1024


def test_real_decode_unrecognized_payloads_yield_null_dims(payloads):
    # fake=False is a real header parser now; non-image payloads must
    # decode to NULL dims (never raise — one bad file must not kill a job)
    rows = M.decode_image_meta(M.binarize(payloads, "text"), fake=False).collect()
    assert len(rows) == payloads.count()
    assert all(r["width"] is None and r["height"] is None for r in rows)
    assert all(r["byte_len"] >= 0 and r["content_md5"] for r in rows)


def test_real_resize_non_raster_payloads_yield_nulls(payloads):
    rows = M.resize_images(M.binarize(payloads, "text"), fake=False).collect()
    assert len(rows) == payloads.count()
    assert all(
        r["width"] is None and r["height"] is None and r["resized_md5"] is None
        for r in rows
    )


def test_real_resize_ppm_and_bmp_nearest_neighbor(spark):
    import hashlib
    import struct

    import numpy as np

    from hive_scripts_spark.operators.multimodal import resize_images

    # 4x2 RGB gradient; expect 2x2 nearest-neighbor sample at cols 1,3 rows 0,1
    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    ppm = b"P6 4 2 255\n" + px.tobytes()

    def bmp24(px):
        h, w = px.shape[:2]
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = px[..., ::-1].reshape(h, w * 3)  # BGR
        data = rows[::-1].tobytes()  # bottom-up
        off = 14 + 40
        header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
        return header + dib + data

    df = spark.createDataFrame(
        [(1, ppm), (2, bmp24(px))], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r for r in resize_images(df, target=(2, 2), fake=False).collect()}
    expected = np.ascontiguousarray(px[[0, 1]][:, [1, 3]])
    want = hashlib.md5(expected.tobytes()).hexdigest()
    assert out[1]["width"] == 2 and out[1]["height"] == 2
    # identical pixels → identical resized fingerprint across containers
    assert out[1]["resized_md5"] == want
    assert out[2]["resized_md5"] == want


def _pack_rows(s, bitd):
    """Pack an (h, w) sample matrix into (h, ceil(w*bitd/8)) bytes,
    MSB-first per RFC 2083 section 2.3 (sub-byte scanline layout)."""
    import numpy as np

    h, w = s.shape
    bits = (
        (s[..., None].astype(np.uint8) >> np.arange(bitd - 1, -1, -1)) & 1
    ).reshape(h, w * bitd)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate(
            [bits, np.zeros((h, pad), bits.dtype)], axis=1
        )
    return np.packbits(bits.astype(np.uint8), axis=1)


def _forward_filter(px, filters, bitd=8):
    """Apply RFC 2083 FORWARD scanline filters to an (h, w, ch) image
    (8-bit) or an (h, w) sub-byte sample matrix; returns the filtered
    byte stream (filter byte + filtered line per row) — one
    (sub-)image's worth, shared by the sequential encoder and each
    Adam7 pass. Filters operate on bytes with bpp floored to 1 for
    sub-byte depths."""
    import numpy as np

    if bitd == 8:
        h, w, ch = px.shape
        stride = w * ch
        flat = px.reshape(h, stride).astype(np.int64)
        bpp = ch
    elif bitd == 16:  # network byte order (high byte first)
        h, w, ch = px.shape
        stride = w * ch * 2
        flat = (
            np.frombuffer(px.astype(">u2").tobytes(), np.uint8)
            .reshape(h, stride)
            .astype(np.int64)
        )
        bpp = ch * 2
    else:
        packed = _pack_rows(px, bitd)
        h, stride = packed.shape
        flat = packed.astype(np.int64)
        bpp = 1
    raw = bytearray()
    prev = np.zeros(stride, np.int64)
    for y, flt in enumerate(filters):
        line = flat[y]
        if flt == 0:
            enc = line
        elif flt == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            enc = (line - left) % 256
        elif flt == 2:  # Up
            enc = (line - prev) % 256
        elif flt == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            enc = (line - ((left + prev) >> 1)) % 256
        else:  # Paeth
            enc = np.empty(stride, np.int64)
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                enc[x] = (int(line[x]) - pred) % 256
        raw.append(flt)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    return bytes(raw)


def _png(px, filters=None, color_type=2, interlace=0, chunked_idat=False,
         bitd=8, palette=None):
    """Minimal PNG encoder (test-side twin of the stdlib decoder):
    forward-filters per RFC 2083 (so the decoder's unfilter of every
    type is exercised); interlace=1 emits the seven Adam7 passes, each
    independently filtered. ``px`` is (h, w, ch) for 8-bit types, an
    (h, w) sample matrix for sub-byte gray/palette; ``palette`` (list
    of RGB tuples) emits a PLTE chunk for color type 3."""
    import struct
    import zlib

    h, w = px.shape[:2]
    filters = filters if filters is not None else [0] * h
    if interlace == 0:
        raw = _forward_filter(px, filters, bitd=bitd)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw.extend(
                _forward_filter(
                    sub,
                    [filters[i % len(filters)] for i in range(sub.shape[0])],
                    bitd=bitd,
                )
            )
        raw = bytes(raw)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bitd, color_type, 0, 0, interlace)
    plte = (
        chunk(b"PLTE", b"".join(bytes(c) for c in palette))
        if palette is not None
        else b""
    )
    z = zlib.compress(bytes(raw))
    if chunked_idat:  # IDAT may be split arbitrarily — decoder must join
        idat = chunk(b"IDAT", z[: len(z) // 2]) + chunk(b"IDAT", z[len(z) // 2 :])
    else:
        idat = chunk(b"IDAT", z)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + plte + idat
        + chunk(b"IEND", b"")
    )


def test_png_wavefront_unfilter_long_runs(spark):
    # Runs of >=24 consecutive Average/Paeth rows take the tiled
    # anti-diagonal wavefront path (multimodal.py _unfilter_run34) instead
    # of the per-row list recurrence. Encoding true pixels forward and
    # asserting the decode reproduces them exactly locks the wavefront
    # bit-identical to the RFC 2083 recurrence on every branch: pure
    # Average, pure Paeth, blended 3/4 runs, runs broken by other
    # filters, and sub-threshold runs that stay on the list path.
    import hashlib

    import numpy as np

    from hive_scripts_spark.operators.multimodal import resize_images

    rng = np.random.default_rng(20260813)
    h, w = 80, 37
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    cases = {
        1: [3] * h,                                   # all-Average wavefront
        2: [4] * h,                                   # all-Paeth wavefront
        3: [3, 4] * (h // 2),                         # blended 3/4 wavefront
        4: [0, 1, 2] * 5 + [3] * 30 + [2] + [4] * 26
           + [3] * 8,                                 # runs + short tail
    }
    df = spark.createDataFrame(
        [(d, _png(px, filters=f)) for d, f in cases.items()],
        "doc_id long, payload binary",
    )
    # identity-size resize: nearest-neighbor mapping is the identity, so
    # resized_md5 must equal the md5 of the source pixels
    out = {
        r["doc_id"]: r["resized_md5"]
        for r in resize_images(df, target=(w, h), fake=False).collect()
    }
    want = hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest()
    for d in cases:
        assert out[d] == want, f"doc {d} diverged from forward-filtered pixels"


def test_real_resize_png_matches_ppm_and_bmp(spark):
    # the VERDICT container-independence contract: PPM, BMP and PNG of
    # IDENTICAL pixels must produce the same resized_md5
    import hashlib
    import struct

    import numpy as np

    from hive_scripts_spark.operators.multimodal import resize_images

    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    ppm = b"P6 4 2 255\n" + px.tobytes()

    def bmp24(px):
        h, w = px.shape[:2]
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = px[..., ::-1].reshape(h, w * 3)
        data = rows[::-1].tobytes()
        off = 14 + 40
        header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
        return header + dib + data

    rgba = np.dstack([px, np.full(px.shape[:2], 200, np.uint8)])
    rows = [
        (1, ppm),
        (2, bmp24(px)),
        (3, _png(px)),                          # filter 0 rows
        (4, _png(px, filters=[1, 2])),          # Sub + Up
        (5, _png(px, filters=[3, 4])),          # Average + Paeth
        (6, _png(px, chunked_idat=True)),       # split IDAT stream
        (7, _png(rgba, color_type=6)),          # RGBA: alpha dropped
        (8, _png(px, interlace=1)),             # Adam7 (decodes since r12)
        (9, b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),  # truncated garbage
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r for r in resize_images(df, target=(2, 2), fake=False).collect()
    }
    want = hashlib.md5(
        np.ascontiguousarray(px[[0, 1]][:, [1, 3]]).tobytes()
    ).hexdigest()
    for d in (1, 2, 3, 4, 5, 6, 7, 8):
        assert out[d]["resized_md5"] == want, f"doc {d} diverged"
    assert out[9]["resized_md5"] is None


def test_frame_sample_plan(payloads):
    out = M.frame_sample_plan(payloads, every_n=25)
    rows = out.collect()
    assert len(rows) == 3 * 4  # frames 0,25,50,75 per doc
    assert {r["frame_index"] for r in rows} == {0, 25, 50, 75}


def test_real_decode_parses_bmp_png_gif_ppm_headers(spark):
    import struct

    def bmp(w, h):
        # minimal BITMAPINFOHEADER: 'BM' + 16 pad bytes to offset 18,
        # then int32le width/height
        return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h)

    def png(w, h):
        return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", w, h)

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h)

    payloads = [
        (1, bmp(640, 480)),
        (2, bmp(32, -16)),  # top-down BMP: negative height
        (3, png(1920, 1080)),
        (4, gif(13, 7)),
        (5, b"P6\n# comment\n800 600\n255\nxxx"),
        (6, b"not an image at all"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    from hive_scripts_spark.operators.multimodal import decode_image_meta

    out = {
        r["doc_id"]: (r["width"], r["height"])
        for r in decode_image_meta(df, fake=False).collect()
    }
    assert out[1] == (640, 480)
    assert out[2] == (32, 16)
    assert out[3] == (1920, 1080)
    assert out[4] == (13, 7)
    assert out[5] == (800, 600)
    assert out[6] == (None, None)


def test_real_decode_header_roundtrip_grid(spark):
    import struct

    from hive_scripts_spark.operators.multimodal import decode_image_meta

    dims = [(1, 1), (2, 3), (255, 256), (641, 479), (65535, 65535), (100000, 7)]
    rows, expected, i = [], {}, 0

    def add(payload, w, h):
        nonlocal i
        rows.append((i, payload))
        expected[i] = (w, h)
        i += 1

    for w, h in dims:
        add(b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h), w, h)
        add(b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR" + struct.pack(">II", w, h), w, h)
        if w <= 65535 and h <= 65535:
            add(b"GIF87a" + struct.pack("<HH", w, h), w, h)
        add(f"P6  {w}\t{h}\n255\n".encode() + b"\x01\x02", w, h)
        add(f"P5\n# c1\n# c2\n{w} {h} 255 ".encode(), w, h)
    # truncated headers must degrade to NULL, not raise
    add(b"BM\x00\x00", None, None)
    add(b"\x89PNG\r\n\x1a\n", None, None)
    add(b"P6 12", None, None)

    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"])
        for r in decode_image_meta(df, fake=False).collect()
    }
    assert got == expected


def test_real_decode_jpeg_sof_scan(spark):
    import struct

    from hive_scripts_spark.operators.multimodal import decode_image_meta

    def jpeg(w, h, sof=0xC0, pad_segments=1):
        # SOI + APP0 (JFIF-ish) * pad + SOF + EOI-ish tail
        out = b"\xff\xd8"
        for _ in range(pad_segments):
            payload = b"JFIF\x00" + b"\x00" * 7
            out += b"\xff\xe0" + struct.pack(">H", len(payload) + 2) + payload
        sof_payload = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
        out += bytes([0xFF, sof]) + struct.pack(">H", len(sof_payload) + 2) + sof_payload
        return out + b"\xff\xd9"

    def with_fill(w, h, n_fill=4):
        # 0xFF padding bytes between segments are legal filler (ITU T.81
        # §B.1.1.2) — the scanner must skip them, not read a seg length
        out = b"\xff\xd8" + b"\xff" * n_fill
        payload = b"JFIF\x00" + b"\x00" * 7
        out += b"\xff\xe0" + struct.pack(">H", len(payload) + 2) + payload
        out += b"\xff" * n_fill
        sof_payload = b"\x08" + struct.pack(">HH", h, w) + b"\x03"
        out += b"\xff\xc0" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
        return out + b"\xff\xd9"

    rows = [
        (1, jpeg(640, 480)),                      # baseline SOF0
        (2, jpeg(1920, 1080, sof=0xC2)),          # progressive SOF2
        (3, jpeg(33, 7, pad_segments=3)),         # several APP segments first
        (4, b"\xff\xd8\xff\xc4" + b"\x00\x04\x00\x00"),  # DHT only → no dims
        (5, b"\xff\xd8"),                          # bare SOI
        (6, with_fill(12, 34)),                   # FF fill bytes between segments
        # EOI immediately after SOI: must terminate, not read a length
        (7, b"\xff\xd8\xff\xd9" + b"\x12\x34\x56\x78" * 4),
        # SOS before any SOF: entropy data follows — walk must stop
        (8, b"\xff\xd8\xff\xda\x00\x04\x01\x00" + b"\xff\xc0\xde\xad" * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["width"], r["height"])
        for r in decode_image_meta(df, fake=False).collect()
    }
    assert got[1] == (640, 480)
    assert got[2] == (1920, 1080)
    assert got[3] == (33, 7)
    assert got[4] == (None, None)
    assert got[5] == (None, None)
    assert got[6] == (12, 34)
    assert got[7] == (None, None)
    assert got[8] == (None, None)


def test_real_audio_decode_wav_pcm(spark):
    import math
    import struct

    from hive_scripts_spark.operators.multimodal import audio_features

    def wav(samples, rate=8000, bits=16, channels=1):
        if bits == 16:
            data = b"".join(struct.pack("<h", s) for s in samples)
        else:
            data = bytes((s + 128) & 0xFF for s in samples)
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
            channels * bits // 8, bits,
        )
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    sq = [1000, -1000, 2000, -2000]
    rows = [
        (1, wav(sq)),                       # 16-bit PCM
        (2, wav([10, -10, 20], bits=8)),    # 8-bit PCM (offset-128)
        (3, b"not audio"),
        (4, wav([], rate=16000)),           # empty data chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in audio_features(df, fake=False).collect()}
    assert out[1]["n_samples"] == 4
    assert abs(out[1]["duration_s"] - 4 / 8000) < 1e-12
    expect_rms = math.sqrt(sum(s * s for s in sq) / len(sq))
    assert abs(out[1]["rms_energy"] - expect_rms) < 1e-9
    assert out[2]["n_samples"] == 3
    assert out[3]["n_samples"] is None and out[3]["rms_energy"] is None
    assert out[4]["n_samples"] == 0 and out[4]["rms_energy"] == 0.0


def test_audio_spectral_features_analytic(spark):
    """r13 audio_spectral_features against ANALYTIC oracles (not a
    numpy re-implementation): sines at exact FFT bins have known
    centroid/bandwidth/rolloff/zcr; silence has zcr 0 and NULL
    spectral columns; non-WAV and NULL payloads degrade to NULLs."""
    import math
    import struct

    from hive_scripts_spark.operators.multimodal import (
        audio_spectral_features,
    )

    def wav16(samples, rate=8000):
        data = b"".join(
            struct.pack("<h", max(-32768, min(32767, int(round(s)))))
            for s in samples
        )
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    n, sr = 1024, 8000
    # 1 kHz = bin 128 of 1024 @ 8 kHz — integer cycles, zero leakage;
    # phase offset avoids exact-zero samples (sign ambiguity at zcr)
    tone = [
        10000 * math.sin(2 * math.pi * 1000 * k / sr + 0.1)
        for k in range(n)
    ]
    # equal-amplitude 1 kHz + 3 kHz (bins 128 and 384): centroid =
    # 2 kHz, bandwidth = 1 kHz, rolloff (85%) lands on the upper tone
    two = [
        10000 * math.sin(2 * math.pi * 1000 * k / sr + 0.1)
        + 10000 * math.sin(2 * math.pi * 3000 * k / sr + 0.2)
        for k in range(n)
    ]
    rows = [
        (1, wav16(tone)),
        (2, wav16(two)),
        (3, wav16([0] * 256)),     # silence
        (4, b"not audio"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r for r in audio_spectral_features(df).collect()
    }
    t = out[1]
    assert t["n_samples"] == n
    # 2 crossings per cycle x 128 cycles over 1023 adjacent pairs
    assert abs(t["zero_crossing_rate"] - 256 / 1023) < 2 / 1023
    # int16 rounding adds a tiny broadband floor — loose tolerances
    assert abs(t["spectral_centroid_hz"] - 1000) < 5
    assert t["spectral_bandwidth_hz"] < 60
    assert abs(t["spectral_rolloff_hz"] - 1000) < sr / n + 1e-9
    d = out[2]
    assert abs(d["spectral_centroid_hz"] - 2000) < 10
    assert abs(d["spectral_bandwidth_hz"] - 1000) < 15
    assert abs(d["spectral_rolloff_hz"] - 3000) < sr / n + 1e-9
    s = out[3]
    assert s["n_samples"] == 256 and s["zero_crossing_rate"] == 0.0
    assert s["spectral_centroid_hz"] is None
    assert s["spectral_rolloff_hz"] is None
    for d_ in (4, 5):
        assert out[d_]["spectral_centroid_hz"] is None
        assert out[d_]["n_samples"] is None


def test_real_video_meta_mp4_and_avi(spark):
    import struct

    from hive_scripts_spark.operators.multimodal import video_meta

    def mp4(timescale, duration):
        ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
        mvhd_body = b"\x00" * 12 + struct.pack(">II", timescale, duration) + b"\x00" * 80
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        return ftyp + moov

    def avi(usec_per_frame, total_frames):
        avih = b"avih" + struct.pack("<I", 56) + struct.pack("<I", usec_per_frame)
        avih += b"\x00" * 12 + struct.pack("<I", total_frames) + b"\x00" * 36
        return b"RIFF" + struct.pack("<I", 4 + len(avih)) + b"AVI " + avih

    rows = [
        (1, mp4(1000, 5500)),        # 5.5 s
        (2, avi(40000, 250)),        # 25 fps * 10 s
        (3, b"not a video"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in video_meta(df, fake=False).collect()}
    assert out[1]["container"] == "mp4" and abs(out[1]["duration_s"] - 5.5) < 1e-9
    assert out[1]["n_frames"] is None
    assert out[2]["container"] == "avi" and out[2]["n_frames"] == 250
    assert abs(out[2]["duration_s"] - 10.0) < 1e-9
    assert out[3]["container"] is None and out[3]["duration_s"] is None


def test_frame_sample_plan_bounds_to_real_frame_count(spark):
    df = spark.createDataFrame(
        [(1, 7), (2, 25), (3, None)], "doc_id long, n_frames int"
    )
    out = M.frame_sample_plan(df, every_n=10, n_frames_col="n_frames")
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["frame_index"])
    assert sorted(got[1]) == [0]            # 7 frames → only frame 0
    assert sorted(got[2]) == [0, 10, 20]    # 25 frames
    assert sorted(got[3]) == list(range(0, 100, 10))  # NULL → default 100


def test_frame_sample_plan_zero_frame_clips_produce_no_rows(spark):
    # an AVI avih can legitimately report totalframes=0; sequence(0,-1)
    # would raise 'Illegal sequence boundaries' — such clips must instead
    # contribute nothing (while NULL counts keep the default fallback)
    df = spark.createDataFrame(
        [(1, 0), (2, -3), (3, 25), (4, None)], "doc_id long, n_frames int"
    )
    out = M.frame_sample_plan(df, every_n=10, n_frames_col="n_frames")
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["frame_index"])
    assert 1 not in got and 2 not in got
    assert sorted(got[3]) == [0, 10, 20]
    assert sorted(got[4]) == list(range(0, 100, 10))


# ---------------------------------------------------------------------------
# baseline-JPEG pixel decode (r12, VERDICT r11 item 5) — round-trips
# against the independent coefficient-level encoder in tests/jpeg_codec.py
# ---------------------------------------------------------------------------


def _idct_ref(blk64, q=16.0):
    """Independent 8x8 IDCT: direct four-loop cosine sum straight from
    T.81 A.3.3 — deliberately NOT the decoder's matrix form, so a
    transposition/scale bug in either implementation breaks the match."""
    import numpy as np

    qm = blk64.reshape(8, 8) * q
    px = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv / 4 * qm[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            px[x, y] = s
    return px  # unshifted float plane


def _resize_md5(spark, payload, target):
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    return M.resize_images(df, target=target, fake=False).collect()[0]


def test_jpeg_constant_gray_decodes_exactly(spark):
    """Constant-gray one-block JPEG: DC = 8*(g-128) divisible by the
    q=16 step, zero AC -> decode reproduces g bit-for-bit (the
    exactness argument the x_multimodal_resize_jpeg oracle relies on)."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray

    for g in (16, 64, 100, 126):
        r = _resize_md5(spark, encode_gray(np.full((8, 8), g, np.uint8)), (2, 2))
        assert (r["width"], r["height"]) == (2, 2)
        assert r["resized_md5"] == hashlib.md5(bytes([g]) * 12).hexdigest(), g


def test_jpeg_coefficient_roundtrip_gray(spark):
    """Arbitrary coefficient blocks (huffman + zigzag + dequant + IDCT
    under test): decoder output must equal the independent cosine-sum
    reconstruction exactly."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_baseline

    rng = np.random.RandomState(7)
    coefs = rng.randint(-20, 21, size=(1, 2, 64)).astype(np.int32)
    pay = encode_baseline(16, 8, [(1, 1, 1, coefs)])
    expect = np.concatenate(
        [
            np.clip(np.round(_idct_ref(coefs[0, i]) + 128), 0, 255)
            for i in range(2)
        ],
        axis=1,
    ).astype(np.uint8)
    rgb = np.ascontiguousarray(np.repeat(expect[:, :, None], 3, axis=2))
    r = _resize_md5(spark, pay, (16, 8))
    assert r["resized_md5"] == hashlib.md5(rgb.tobytes()).hexdigest()


def test_jpeg_420_color_roundtrip(spark):
    """4:2:0 YCbCr: subsampled chroma planes replicate up 2x2 and the
    JFIF color transform applies — checked against an independent
    reconstruction."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_baseline

    rng = np.random.RandomState(11)
    ycoef = rng.randint(-15, 16, size=(2, 2, 64)).astype(np.int32)
    cbcoef = rng.randint(-5, 6, size=(1, 1, 64)).astype(np.int32)
    crcoef = rng.randint(-5, 6, size=(1, 1, 64)).astype(np.int32)
    pay = encode_baseline(
        16, 16, [(1, 2, 2, ycoef), (2, 1, 1, cbcoef), (3, 1, 1, crcoef)]
    )
    Y = np.block(
        [[_idct_ref(ycoef[0, 0]), _idct_ref(ycoef[0, 1])],
         [_idct_ref(ycoef[1, 0]), _idct_ref(ycoef[1, 1])]]
    ) + 128
    Cb = _idct_ref(cbcoef[0, 0]).repeat(2, 0).repeat(2, 1)
    Cr = _idct_ref(crcoef[0, 0]).repeat(2, 0).repeat(2, 1)
    rgb = np.stack(
        [Y + 1.402 * Cr, Y - 0.344136 * Cb - 0.714136 * Cr, Y + 1.772 * Cb],
        axis=2,
    )
    expect = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    r = _resize_md5(spark, pay, (16, 16))
    assert r["resized_md5"] == hashlib.md5(
        np.ascontiguousarray(expect).tobytes()
    ).hexdigest()


def test_jpeg_restart_markers_and_dc_reset(spark):
    """DRI=2 over 4 MCUs: one RST marker mid-stream — bit buffer
    realigns and DC predictors reset, or every block after the marker
    decodes wrong."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray, fdct_quantize

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, size=(8, 32)).astype(np.uint8)
    pay = encode_gray(img, dri=2)
    coefs = fdct_quantize(img)
    expect = np.concatenate(
        [
            np.clip(np.round(_idct_ref(coefs[0, i]) + 128), 0, 255)
            for i in range(4)
        ],
        axis=1,
    ).astype(np.uint8)
    rgb = np.ascontiguousarray(np.repeat(expect[:, :, None], 3, axis=2))
    r = _resize_md5(spark, pay, (32, 8))
    assert r["resized_md5"] == hashlib.md5(rgb.tobytes()).hexdigest()


def test_jpeg_unsupported_and_corrupt_degrade_to_null(spark):
    """Arithmetic-coded (SOF9), lossless (SOF3) and truncated payloads
    yield NULL rows, never exceptions — the one-bad-object-must-not-
    kill-the-batch contract. (A full-spectral scan relabeled SOF2 is
    VALID progressive since r12 and decodes identically — pinned in
    the progressive round-trip tests, so it no longer belongs here.)"""
    import numpy as np

    from tests.jpeg_codec import encode_gray

    base = bytearray(encode_gray(np.full((8, 8), 50, np.uint8)))
    arith = bytearray(base)
    arith[arith.find(b"\xff\xc0") + 1] = 0xC9  # SOF0 -> SOF9 (arithmetic)
    lossless = bytearray(base)
    lossless[lossless.find(b"\xff\xc0") + 1] = 0xC3  # SOF0 -> SOF3
    truncated = bytes(base[:40])
    df = spark.createDataFrame(
        [(1, bytes(arith)), (2, truncated), (3, bytes(lossless))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in M.resize_images(df, target=(2, 2), fake=False).collect()}
    for did in (1, 2, 3):
        assert rows[did]["resized_md5"] is None
        assert rows[did]["width"] is None


def test_jpeg_noninterleaved_gray_with_declared_subsampling(spark):
    """A grayscale FRAME that declares 2x2 sampling factors (some
    color-pipeline encoders emit this): the single-component scan is
    non-interleaved per T.81 A.2.2 — data units walk the component's
    own block grid, not the frame-MCU grid. An interleaved walk would
    decode 4 blocks per MCU and mis-walk the stream (24x8 = 3 blocks,
    not 2 MCUs x 4)."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_baseline

    rng = np.random.RandomState(17)
    coefs = rng.randint(-12, 13, size=(1, 3, 64)).astype(np.int32)
    pay = encode_baseline(24, 8, [(1, 2, 2, coefs)], dri=2)
    expect = np.concatenate(
        [
            np.clip(np.round(_idct_ref(coefs[0, i]) + 128), 0, 255)
            for i in range(3)
        ],
        axis=1,
    ).astype(np.uint8)
    rgb = np.ascontiguousarray(np.repeat(expect[:, :, None], 3, axis=2))
    r = _resize_md5(spark, pay, (24, 8))
    assert r["resized_md5"] == hashlib.md5(rgb.tobytes()).hexdigest()


def test_jpeg_fill_bytes_before_markers_are_skipped(spark):
    """T.81 allows optional 0xFF fill bytes before any marker; they
    must not be parsed as a marker with a bogus length."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray

    base = bytearray(encode_gray(np.full((8, 8), 100, np.uint8)))
    idx = base.find(b"\xff\xc0")
    padded = bytes(base[:idx]) + b"\xff\xff\xff" + bytes(base[idx:])
    r = _resize_md5(spark, padded, (2, 2))
    assert r["resized_md5"] == hashlib.md5(bytes([100]) * 12).hexdigest()


def test_jpeg_randomized_roundtrip_fuzz(spark):
    """Batched decoder fuzz: random dims / sampling layouts / restart
    intervals / coefficient contents, every payload independently
    reconstructed with the four-loop cosine-sum reference. One Spark
    job for the whole batch keeps this cheap."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_baseline

    rng = np.random.RandomState(29)
    payloads, wants = [], []

    def gray_case(bw, bh, dri):
        coefs = rng.randint(-25, 26, size=(bh, bw, 64)).astype(np.int32)
        pay = encode_baseline(bw * 8, bh * 8, [(1, 1, 1, coefs)], dri=dri)
        exp = np.block(
            [[np.clip(np.round(_idct_ref(coefs[y, x]) + 128), 0, 255)
              for x in range(bw)] for y in range(bh)]
        ).astype(np.uint8)
        return pay, np.repeat(exp[:, :, None], 3, axis=2), bw * 8, bh * 8

    def color_case(mw, mh, cs, dri):
        ch, cv = cs
        y = rng.randint(-20, 21, size=(mh * cv, mw * ch, 64)).astype(np.int32)
        cb = rng.randint(-6, 7, size=(mh, mw, 64)).astype(np.int32)
        cr = rng.randint(-6, 7, size=(mh, mw, 64)).astype(np.int32)
        w, h = mw * ch * 8, mh * cv * 8
        pay = encode_baseline(
            w, h, [(1, ch, cv, y), (2, 1, 1, cb), (3, 1, 1, cr)], dri=dri
        )
        Y = np.block(
            [[_idct_ref(y[r, c]) for c in range(mw * ch)]
             for r in range(mh * cv)]
        ) + 128
        Cb = np.block(
            [[_idct_ref(cb[r, c]) for c in range(mw)] for r in range(mh)]
        ).repeat(cv, 0).repeat(ch, 1)
        Cr = np.block(
            [[_idct_ref(cr[r, c]) for c in range(mw)] for r in range(mh)]
        ).repeat(cv, 0).repeat(ch, 1)
        rgb = np.stack(
            [Y + 1.402 * Cr, Y - 0.344136 * Cb - 0.714136 * Cr,
             Y + 1.772 * Cb], axis=2)
        return pay, np.clip(np.round(rgb), 0, 255).astype(np.uint8), w, h

    cases = []
    for bw, bh, dri in [(1, 1, 0), (3, 2, 0), (4, 1, 3), (2, 5, 1)]:
        cases.append(gray_case(bw, bh, dri))
    for mw, mh, cs, dri in [
        (1, 1, (2, 2), 0), (2, 2, (2, 2), 1), (2, 1, (2, 1), 0),
        (1, 2, (1, 2), 2), (3, 1, (1, 1), 0),
    ]:
        cases.append(color_case(mw, mh, cs, dri))
    rows = []
    for i, (pay, exp, w, h) in enumerate(cases):
        rows.append((i, bytearray(pay), w, h))
        wants.append(hashlib.md5(np.ascontiguousarray(exp).tobytes()).hexdigest())
    # group by identical target dims to batch jobs; here every case
    # carries its own dims, so run one job per distinct (w, h)
    by_dims = {}
    for i, (pay, exp, w, h) in enumerate(cases):
        by_dims.setdefault((w, h), []).append((i, bytearray(pay)))
    got = {}
    for (w, h), members in by_dims.items():
        df = spark.createDataFrame(members, "doc_id long, payload binary")
        for r in M.resize_images(df, target=(w, h), fake=False).collect():
            got[r["doc_id"]] = r["resized_md5"]
    for i in range(len(cases)):
        assert got[i] == wants[i], f"fuzz case {i} diverged"


def test_jpeg_corruption_fuzz_never_raises(spark):
    """Byte-flip fuzz: 60 corrupted variants of a valid payload must
    flow through as rows (NULL or decoded) — a 100 TB lake WILL feed
    the decoder garbage and one bad object must never kill the batch."""
    import numpy as np

    from tests.jpeg_codec import encode_gray

    rng = np.random.RandomState(31)
    base = bytearray(encode_gray(rng.randint(0, 256, (16, 16)).astype(np.uint8)))
    rows = []
    for i in range(60):
        mutated = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            mutated[rng.randint(0, len(mutated))] = rng.randint(0, 256)
        rows.append((i, bytes(mutated)))
    rows.append((60, bytes(base[: rng.randint(1, len(base))])))  # truncation
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = M.resize_images(df, target=(4, 4), fake=False).collect()
    assert len(out) == len(rows)  # every row survived the batch


def test_real_audio_decode_24bit_32bit_and_float(spark):
    """r12 WAV widening: 24-bit / 32-bit integer PCM and IEEE-float
    (fmt 3) payloads decode with exact hand-computed RMS; stereo frame
    counting stays per-frame, not per-sample."""
    import math
    import struct

    import numpy as np

    def wav(fmt, bits, channels, rate, payload):
        body = (
            b"WAVEfmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", fmt, channels, rate,
                          rate * channels * bits // 8,
                          channels * bits // 8, bits)
            + b"data" + struct.pack("<I", len(payload)) + payload
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + body

    s24 = [100000, -100000, 8388607, -8388608]  # full 24-bit swing
    p24 = b"".join(
        (v & 0xFFFFFF).to_bytes(3, "little") for v in s24
    )
    s32 = [1 << 20, -(1 << 20), 0, 77]
    p32 = struct.pack("<4i", *s32)
    sf = [0.5, -0.25, 1.0, -1.0]
    pf32 = struct.pack("<4f", *sf)
    pf64 = struct.pack("<4d", *sf)
    # stereo 16-bit: 4 samples = 2 frames
    st = [1000, -1000, 2000, -2000]
    pst = struct.pack("<4h", *st)
    df = spark.createDataFrame(
        [
            (1, wav(1, 24, 1, 8000, p24)),
            (2, wav(1, 32, 1, 8000, p32)),
            (3, wav(3, 32, 1, 8000, pf32)),
            (4, wav(3, 64, 1, 8000, pf64)),
            (5, wav(1, 16, 2, 8000, pst)),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in M.audio_features(df, fake=False).collect()}

    def rms(vals):
        return math.sqrt(sum(float(v) * float(v) for v in vals) / len(vals))

    assert out[1]["n_samples"] == 4 and abs(out[1]["rms_energy"] - rms(s24)) < 1e-6
    assert out[2]["n_samples"] == 4 and abs(out[2]["rms_energy"] - rms(s32)) < 1e-6
    # float32 values round-trip exactly for these literals
    assert out[3]["n_samples"] == 4 and abs(out[3]["rms_energy"] - rms(sf)) < 1e-12
    assert out[4]["n_samples"] == 4 and abs(out[4]["rms_energy"] - rms(sf)) < 1e-12
    assert out[5]["n_samples"] == 2  # frames, not interleaved samples
    assert abs(out[5]["rms_energy"] - rms(st)) < 1e-9
    assert abs(out[5]["duration_s"] - 2 / 8000) < 1e-12


def test_png_adam7_interlaced_decodes_exactly(spark):
    """r12: Adam7-interlaced PNG — seven independently-filtered passes
    scattered back onto the frame grid — must reproduce the source
    pixels bit-for-bit, including frames smaller than one 8x8 Adam7
    tile (where early passes are empty and emit no bytes)."""
    import hashlib

    import numpy as np

    from hive_scripts_spark.operators.multimodal import resize_images

    rng = np.random.default_rng(20260815)
    cases = {}
    px_big = rng.integers(0, 256, (21, 13, 3), dtype=np.uint8)
    cases[1] = (px_big, _png(px_big, filters=[0, 1, 2, 3, 4] * 5, interlace=1))
    px_tiny = rng.integers(0, 256, (3, 2, 3), dtype=np.uint8)  # < one tile
    cases[2] = (px_tiny, _png(px_tiny, filters=[4, 3, 1], interlace=1))
    px_rgba = rng.integers(0, 256, (16, 16, 4), dtype=np.uint8)
    cases[3] = (
        px_rgba,
        _png(px_rgba, filters=[2] * 16, color_type=6, interlace=1),
    )
    for did, (px, payload) in cases.items():
        h, w = px.shape[:2]
        df = spark.createDataFrame(
            [(did, payload)], "doc_id long, payload binary"
        )
        r = resize_images(df, target=(w, h), fake=False).collect()[0]
        want = hashlib.md5(
            np.ascontiguousarray(px[..., :3]).tobytes()
        ).hexdigest()
        assert r["resized_md5"] == want, f"adam7 case {did}"


def test_jpeg_progressive_equals_baseline_decode(spark):
    """r12 progressive (SOF2): spectral selection + successive
    approximation fully reconstructs the quantized coefficients, so a
    progressive encoding of the SAME coefficient planes must decode
    bit-identically to the baseline encoding (whose decode is itself
    pinned to the independent cosine-sum reference elsewhere). Covers
    the libjpeg-style default script over gray, 4:2:0 color, sparse
    blocks (long EOB runs with buffered correction bits) and all-zero
    frames (pure EOB-run scans)."""
    import numpy as np

    from tests.jpeg_codec import encode_baseline, encode_progressive

    rng = np.random.RandomState(41)
    cases = []
    g = rng.randint(-30, 31, size=(2, 3, 64)).astype(np.int32)
    cases.append((24, 16, [(1, 1, 1, g)]))
    y = rng.randint(-25, 26, size=(4, 4, 64)).astype(np.int32)
    cb = rng.randint(-8, 9, size=(2, 2, 64)).astype(np.int32)
    cr = rng.randint(-8, 9, size=(2, 2, 64)).astype(np.int32)
    cases.append((32, 32, [(1, 2, 2, y), (2, 1, 1, cb), (3, 1, 1, cr)]))
    s = np.zeros((3, 5, 64), np.int32)
    s[1, 2, 5] = 7
    s[2, 4, 0] = -40
    cases.append((40, 24, [(1, 1, 1, s)]))
    z = np.zeros((2, 2, 64), np.int32)
    cases.append((16, 16, [(1, 1, 1, z)]))
    for w, h, planes in cases:
        pb = encode_baseline(w, h, planes)
        pp = encode_progressive(w, h, planes)
        df = spark.createDataFrame(
            [(1, bytearray(pb)), (2, bytearray(pp))],
            "doc_id long, payload binary",
        )
        out = {
            r["doc_id"]: r["resized_md5"]
            for r in M.resize_images(df, target=(w, h), fake=False).collect()
        }
        assert out[2] is not None, (w, h)
        assert out[1] == out[2], (w, h)


def test_jpeg_progressive_custom_scan_script(spark):
    """A different scan split (three AC bands, refinement from Al=3)
    must reconstruct identically — the decoder follows whatever script
    the SOS headers declare."""
    import numpy as np

    from tests.jpeg_codec import encode_baseline, encode_progressive

    rng = np.random.RandomState(43)
    g = rng.randint(-40, 41, size=(2, 2, 64)).astype(np.int32)
    planes = [(1, 1, 1, g)]
    scans = [
        ([1], 0, 0, 0, 2), ([1], 0, 0, 2, 1), ([1], 0, 0, 1, 0),
        ([1], 1, 2, 0, 3), ([1], 3, 20, 0, 3), ([1], 21, 63, 0, 3),
        ([1], 1, 63, 3, 2), ([1], 1, 63, 2, 1), ([1], 1, 63, 1, 0),
    ]
    pb = encode_baseline(16, 16, planes)
    pp = encode_progressive(16, 16, planes, scans=scans)
    df = spark.createDataFrame(
        [(1, bytearray(pb)), (2, bytearray(pp))],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["resized_md5"]
        for r in M.resize_images(df, target=(16, 16), fake=False).collect()
    }
    assert out[1] == out[2] and out[2] is not None


def test_jpeg_progressive_truncated_renders_partial(spark):
    """A progressive stream cut off after its DC scan renders the DC
    approximation (what a browser shows mid-download) instead of a
    NULL row — every delivered scan's information is kept."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_progressive

    rng = np.random.RandomState(47)
    g = rng.randint(-20, 21, size=(1, 2, 64)).astype(np.int32)
    # DC-complete script first (Al 1 then refine to 0), AC afterwards
    scans = [([1], 0, 0, 0, 1), ([1], 0, 0, 1, 0), ([1], 1, 63, 0, 0)]
    pp = encode_progressive(16, 8, [(1, 1, 1, g)], scans=scans)
    # cut immediately before the THIRD SOS (the AC scan)
    first = pp.find(b"\xff\xda")
    second = pp.find(b"\xff\xda", first + 2)
    third = pp.find(b"\xff\xda", second + 2)
    cut = pp[:third]
    dc_only = np.zeros_like(g)
    dc_only[..., 0] = g[..., 0]
    expect = np.concatenate(
        [
            np.clip(np.round(_idct_ref(dc_only[0, i]) + 128), 0, 255)
            for i in range(2)
        ],
        axis=1,
    ).astype(np.uint8)
    rgb = np.ascontiguousarray(np.repeat(expect[:, :, None], 3, axis=2))
    r = _resize_md5(spark, cut, (16, 8))
    assert r["resized_md5"] == hashlib.md5(rgb.tobytes()).hexdigest()


def _gif(idx, palette, min_code=None, interlace=False, frame_box=None,
         screen=None, trailer=True, extension=False, bg=0,
         local_palette=None, global_table=True):
    """Minimal GIF89a encoder (test-side twin): REAL LZW compression
    with variable code width, dictionary growth to 4095 + clear-code
    reset, optional interlace row reordering, sub-logical-screen
    frames, a skippable extension block, a settable background color
    index (logical screen descriptor byte 11), an optional frame-LOCAL
    color table, and an omittable global table. Pixel indices refer to
    ``local_palette`` when given, else ``palette``."""
    import numpy as np

    ih, iw = idx.shape
    w, h = screen or (iw, ih)
    left, top = (frame_box or (0, 0))
    draw = local_palette if local_palette is not None else palette
    bits = max(2, (len(palette) - 1).bit_length())
    dbits = max(2, (len(draw) - 1).bit_length())
    mcs = min_code or dbits
    out = bytearray(b"GIF89a")
    out += iw.to_bytes(2, "little") if screen is None else w.to_bytes(2, "little")
    out += ih.to_bytes(2, "little") if screen is None else h.to_bytes(2, "little")
    out.append((0x80 | (bits - 1)) if global_table else 0x00)
    out += bytes([bg, 0])
    if global_table:
        table = bytearray()
        for r, g, b_ in palette:
            table += bytes([r, g, b_])
        table += b"\x00" * (3 * (1 << bits) - len(table))
        out += table
    if extension:  # GCE the decoder must skip
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x2c"
    out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
    out += iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
    lflag = 0x40 if interlace else 0x00
    if local_palette is not None:
        lflag |= 0x80 | (dbits - 1)
    out.append(lflag)
    if local_palette is not None:
        table = bytearray()
        for r, g, b_ in local_palette:
            table += bytes([r, g, b_])
        table += b"\x00" * (3 * (1 << dbits) - len(table))
        out += table
    rows = idx
    if interlace:
        order = (list(range(0, ih, 8)) + list(range(4, ih, 8))
                 + list(range(2, ih, 4)) + list(range(1, ih, 2)))
        rows = idx[order]
    stream = [int(v) for v in rows.reshape(-1)]
    # --- real LZW compress ---
    clear, end = 1 << mcs, (1 << mcs) + 1
    codes = []
    code_size = mcs + 1
    dict_ = {(s,): s for s in range(1 << mcs)}
    next_code = end + 1
    codes.append((clear, code_size))
    buf = ()
    for s in stream:
        cand = buf + (s,)
        if cand in dict_:
            buf = cand
            continue
        codes.append((dict_[buf], code_size))
        if next_code < 4096:
            dict_[cand] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:
            codes.append((clear, code_size))
            code_size = mcs + 1
            dict_ = {(t,): t for t in range(1 << mcs)}
            next_code = end + 1
        buf = (s,)
    if buf:
        codes.append((dict_[buf], code_size))
    codes.append((end, code_size))
    # LSB-first bit pack
    acc = nacc = 0
    packed = bytearray()
    for code, cs in codes:
        acc |= code << nacc
        nacc += cs
        while nacc >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        packed.append(acc & 0xFF)
    out.append(mcs)
    for off in range(0, len(packed), 255):
        blk = packed[off : off + 255]
        out.append(len(blk))
        out += blk
    out.append(0)
    if trailer:
        out += b"\x3b"
    return bytes(out)


def test_gif_lzw_decode_exact(spark):
    """r12 GIF: real LZW decode (code-width growth, KwKwK case,
    dictionary reset) reproduces the palette-mapped pixels exactly;
    interlaced row schedule, skipped extensions, and sub-screen frames
    composited on the background all pinned."""
    import hashlib

    import numpy as np

    rng = np.random.RandomState(53)
    pal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (8, 3))]
    parr = np.array(pal, np.uint8)
    idx = rng.randint(0, 8, size=(13, 17))
    cases = {
        1: (_gif(idx, pal), parr[idx]),
        2: (_gif(idx, pal, interlace=True), parr[idx]),
        3: (_gif(idx, pal, extension=True), parr[idx]),
    }
    # repetitive stream -> deep dictionary growth exercises width bumps
    rep = np.tile(np.arange(4), (32, 32))[:32, :32] % 8
    cases[4] = (_gif(rep, pal), parr[rep])
    # sub-screen frame composites on background (palette 0)
    sub = rng.randint(0, 8, size=(4, 5))
    canvas = np.zeros((10, 12, 3), np.uint8)
    canvas[:] = parr[0]
    canvas[2 : 2 + 4, 3 : 3 + 5] = parr[sub]
    cases[5] = (_gif(sub, pal, frame_box=(3, 2), screen=(12, 10)), canvas)
    for did, (payload, px) in cases.items():
        h, w = px.shape[:2]
        df = spark.createDataFrame(
            [(did, payload)], "doc_id long, payload binary"
        )
        r = M.resize_images(df, target=(w, h), fake=False).collect()[0]
        want = hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest()
        assert r["resized_md5"] == want, f"gif case {did}"


def test_gif_corrupt_degrades_to_null(spark):
    import numpy as np

    rng = np.random.RandomState(59)
    pal = [(0, 0, 0), (255, 255, 255), (10, 20, 30), (40, 50, 60)]
    idx = rng.randint(0, 4, size=(6, 6))
    good = bytearray(_gif(idx, pal))
    truncated = bytes(good[: len(good) // 2])
    mangled = bytearray(good)
    mangled[len(mangled) // 2] ^= 0xFF
    df = spark.createDataFrame(
        [(1, truncated), (2, bytes(mangled)), (3, b"GIF89a\x00\x00")],
        "doc_id long, payload binary",
    )
    out = M.resize_images(df, target=(6, 6), fake=False).collect()
    assert len(out) == 3  # rows flow through; values NULL or decoded


def _avi(frames, us_per_frame=33333, rec_lists=False):
    """Minimal AVI writer: RIFF('AVI ') with an hdrl/avih header and a
    movi LIST of 00dc chunks (optionally wrapped in 'rec ' sub-LISTs,
    the interleaved layout); frames are raw chunk payloads (MJPEG =
    whole JPEG byte streams)."""

    def chunk(ckid, data):
        pad = b"\x00" if len(data) & 1 else b""
        return ckid + len(data).to_bytes(4, "little") + data + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = bytearray(56)
    avih[0:4] = us_per_frame.to_bytes(4, "little")
    avih[16:20] = len(frames).to_bytes(4, "little")
    hdrl = lst(b"hdrl", chunk(b"avih", bytes(avih)))
    if rec_lists:
        movi_body = b"".join(
            lst(b"rec ", chunk(b"00dc", fb)) for fb in frames
        )
    else:
        movi_body = b"".join(chunk(b"00dc", fb) for fb in frames)
    movi = lst(b"movi", movi_body)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_extract_frames_mjpeg_end_to_end(spark):
    """r12 extract_frames: MJPEG AVI -> sampled frame rows (payload,
    SOF dims, md5), and the emitted payloads pixel-decode through
    resize_images — the full video->frame->pixel chain is real."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray

    grays = [16, 64, 100, 126, 16, 64]
    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in grays]
    for rec in (False, True):
        df = spark.createDataFrame(
            [(1, _avi(frames, rec_lists=rec))], "doc_id long, payload binary"
        )
        out = M.extract_frames(df, every_n=2).collect()
        assert [r["frame_index"] for r in out] == [0, 2, 4], rec
        for r, k in zip(out, (0, 2, 4)):
            assert (r["width"], r["height"]) == (8, 8)
            assert r["frame_md5"] == hashlib.md5(frames[k]).hexdigest()
        # emitted frame payloads pixel-decode exactly
        fdf = spark.createDataFrame(
            [(r["frame_index"], bytearray(r["frame_payload"])) for r in out],
            "doc_id long, payload binary",
        )
        decoded = {
            r["doc_id"]: r["resized_md5"]
            for r in M.resize_images(fdf, target=(2, 2), fake=False).collect()
        }
        for k in (0, 2, 4):
            want = hashlib.md5(bytes([grays[k]]) * 12).hexdigest()
            assert decoded[k] == want, (rec, k)


def test_extract_frames_non_avi_and_corrupt_emit_nothing(spark):
    import numpy as np

    from tests.jpeg_codec import encode_gray

    good = _avi([encode_gray(np.full((8, 8), 64, np.uint8))])
    df = spark.createDataFrame(
        [
            (1, b"not a video at all"),
            (2, bytes(good[: len(good) // 3])),  # truncated container
            (3, None),
        ],
        "doc_id long, payload binary",
    )
    assert M.extract_frames(df, every_n=1).count() == 0


def test_extract_frames_caps_rows_per_clip(spark):
    import numpy as np

    from tests.jpeg_codec import encode_gray

    f = encode_gray(np.full((8, 8), 100, np.uint8))
    df = spark.createDataFrame(
        [(1, _avi([f] * 30))], "doc_id long, payload binary"
    )
    out = M.extract_frames(df, every_n=1, max_frames=5).collect()
    assert [r["frame_index"] for r in out] == [0, 1, 2, 3, 4]


def _mp4(frames, two_chunks=True, broken_first=None, timing=None,
         ctts=None):
    """Minimal ISO-BMFF writer: moov(trak(mdia(hdlr 'vide',
    minf(stbl(stsz/stsc/stco))))) + mdat holding the samples, split
    across two chunks when ``two_chunks`` (exercising the
    sample-to-chunk run expansion). ``broken_first`` prepends a
    defective 'vide' trak — ``no_stbl`` / ``no_stsz`` / ``no_stco`` /
    ``empty`` (a zero-sample table) — ahead of the real one.
    ``timing=(timescale, [delta, ...])`` emits mdhd + stts (one run
    per sample) so frame_ts_us resolves."""

    def box(btype, body):
        return (len(body) + 8).to_bytes(4, "big") + btype + body

    sizes = [len(f) for f in frames]
    # mdat goes LAST; compute its payload offsets after moov length is
    # known — build moov with placeholder offsets first, then patch
    split = (len(frames) + 1) // 2 if two_chunks else len(frames)
    stsz = box(
        b"stsz",
        b"\x00" * 4 + (0).to_bytes(4, "big") + len(frames).to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sizes),
    )
    if two_chunks and len(frames) > 1:
        stsc_entries = [(1, split, 1), (2, len(frames) - split, 1)]
    else:
        stsc_entries = [(1, len(frames), 1)]
    stsc = box(
        b"stsc",
        b"\x00" * 4 + len(stsc_entries).to_bytes(4, "big")
        + b"".join(
            f.to_bytes(4, "big") + c.to_bytes(4, "big") + d.to_bytes(4, "big")
            for f, c, d in stsc_entries
        ),
    )
    nch = 2 if (two_chunks and len(frames) > 1) else 1
    stco_placeholder = box(
        b"stco",
        b"\x00" * 4 + nch.to_bytes(4, "big") + b"\x00" * (4 * nch),
    )
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdhd = stts = cttsb = b""
    if timing is not None:
        tscale, deltas = timing
        mdhd = box(
            b"mdhd",
            b"\x00" * 4 + b"\x00" * 8 + tscale.to_bytes(4, "big")
            + min(sum(deltas), 0xFFFFFFFF).to_bytes(4, "big")
            + b"\x00" * 4,
        )
        stts = box(
            b"stts",
            b"\x00" * 4 + len(deltas).to_bytes(4, "big")
            + b"".join(
                (1).to_bytes(4, "big") + d.to_bytes(4, "big")
                for d in deltas
            ),
        )
    if ctts is not None:
        ver = 1 if any(o < 0 for o in ctts) else 0
        cttsb = box(
            b"ctts",
            bytes([ver, 0, 0, 0]) + len(ctts).to_bytes(4, "big")
            + b"".join(
                (1).to_bytes(4, "big")
                + o.to_bytes(4, "big", signed=ver == 1)
                for o in ctts
            ),
        )
    stbl = box(b"stbl", stsz + stsc + stts + cttsb + stco_placeholder)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    traks = trak
    if broken_first:
        if broken_first == "no_stbl":
            bstbl = b""
        elif broken_first == "no_stsz":
            bstbl = box(b"stbl", stsc)
        elif broken_first == "no_stco":
            bstbl = box(b"stbl", stsz + stsc)
        else:  # "empty": valid table shape, zero samples/chunks
            bstbl = box(
                b"stbl",
                box(b"stsz", b"\x00" * 4 + b"\x00" * 8)
                + box(b"stsc", b"\x00" * 8)
                + box(b"stco", b"\x00" * 8),
            )
        traks = box(b"trak", box(b"mdia", hdlr + box(b"minf", bstbl))) + trak
    moov = box(b"moov", traks)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_payload = b"".join(frames)
    header_len = len(ftyp) + len(moov)
    chunk1_off = header_len + 8  # into mdat payload
    chunk2_off = chunk1_off + sum(sizes[:split])
    offsets = [chunk1_off] + ([chunk2_off] if nch == 2 else [])
    stco = box(
        b"stco",
        b"\x00" * 4 + nch.to_bytes(4, "big")
        + b"".join(o.to_bytes(4, "big") for o in offsets),
    )
    moov = moov.replace(stco_placeholder, stco, 1)
    return ftyp + moov + box(b"mdat", mdat_payload)


def test_extract_frames_mp4_sample_table(spark):
    """r12 MP4 extraction: stsz/stsc/stco resolve each sample's byte
    range across multi-chunk layouts; MJPEG samples pixel-decode
    through resize_images like the AVI path."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray

    grays = [16, 64, 100, 126, 16]
    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in grays]
    for two_chunks in (False, True):
        df = spark.createDataFrame(
            [(1, _mp4(frames, two_chunks=two_chunks))],
            "doc_id long, payload binary",
        )
        out = M.extract_frames(df, every_n=2).collect()
        assert [r["frame_index"] for r in out] == [0, 2, 4], two_chunks
        for r, k in zip(out, (0, 2, 4)):
            assert r["frame_md5"] == hashlib.md5(frames[k]).hexdigest()
            assert (r["width"], r["height"]) == (8, 8)
        fdf = spark.createDataFrame(
            [(r["frame_index"], bytearray(r["frame_payload"])) for r in out],
            "doc_id long, payload binary",
        )
        decoded = {
            r["doc_id"]: r["resized_md5"]
            for r in M.resize_images(fdf, target=(2, 2), fake=False).collect()
        }
        for k in (0, 2, 4):
            assert decoded[k] == hashlib.md5(bytes([grays[k]]) * 12).hexdigest()


def test_extract_frames_mp4_opaque_codec_samples_fingerprint_only(spark):
    """Non-MJPEG samples (an H.264-like opaque bitstream) still emit
    rows with md5 fingerprints and NULL dims — frame-level dedup works
    without pixel decode."""
    import hashlib

    fake_nal = [bytes([0, 0, 0, 1, 0x65]) + bytes(range(30 + i)) for i in range(3)]
    df = spark.createDataFrame(
        [(1, _mp4(fake_nal))], "doc_id long, payload binary"
    )
    out = M.extract_frames(df, every_n=1).collect()
    assert len(out) == 3
    for r, fb in zip(out, fake_nal):
        assert r["frame_md5"] == hashlib.md5(fb).hexdigest()
        assert r["width"] is None and r["height"] is None


def test_png_palette_and_grayscale_decode_exact(spark):
    """r13 (VERDICT r12 item 4): PLTE-indexed (type 3) and grayscale
    (0, 4) PNGs pixel-decode exactly — 8-bit and the sub-byte 1/2/4
    depths of types 0/3, sequential and Adam7, mixed filters. Identity-
    size resize makes resized_md5 the md5 of the expected RGB."""
    import hashlib

    import numpy as np

    rng = np.random.RandomState(71)
    h, w = 13, 17
    filters = ([0, 1, 2, 3, 4] * 3)[:h]
    pal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (16, 3))]
    parr = np.array(pal, np.uint8)
    gray = rng.randint(0, 256, (h, w), dtype=np.uint8)
    ga = rng.randint(0, 256, (h, w, 2), dtype=np.uint8)
    cases = {}
    # 8-bit grayscale (type 0): gray replicated to RGB
    cases[1] = (
        _png(gray[..., None], filters, color_type=0),
        np.repeat(gray[..., None], 3, axis=2),
    )
    # 8-bit gray+alpha (type 4): alpha drops
    cases[2] = (
        _png(ga, filters, color_type=4),
        np.repeat(ga[..., :1], 3, axis=2),
    )
    # 8-bit palette (type 3)
    idx8 = rng.randint(0, 16, (h, w)).astype(np.uint8)
    cases[3] = (
        _png(idx8[..., None], filters, color_type=3, palette=pal),
        parr[idx8],
    )
    did = 4
    # sub-byte palette and grayscale, sequential AND Adam7
    for bitd in (1, 2, 4):
        nmax = 1 << bitd
        idx = rng.randint(0, nmax, (h, w)).astype(np.uint8)
        for il in (0, 1):
            cases[did] = (
                _png(idx, filters, color_type=3, interlace=il,
                     bitd=bitd, palette=pal[:nmax]),
                parr[:nmax][idx],
            )
            did += 1
        g = rng.randint(0, nmax, (h, w)).astype(np.uint8)
        scaled = (g.astype(np.uint16) * (255 // (nmax - 1))).astype(np.uint8)
        cases[did] = (
            _png(g, filters, color_type=0, bitd=bitd),
            np.repeat(scaled[..., None], 3, axis=2),
        )
        did += 1
    # Adam7 for the 8-bit types
    cases[did] = (
        _png(gray[..., None], filters, color_type=0, interlace=1),
        np.repeat(gray[..., None], 3, axis=2),
    )
    cases[did + 1] = (
        _png(idx8[..., None], filters, color_type=3, interlace=1,
             palette=pal),
        parr[idx8],
    )
    df = spark.createDataFrame(
        [(d, p) for d, (p, _) in cases.items()],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["resized_md5"]
        for r in M.resize_images(df, target=(w, h), fake=False).collect()
    }
    for d, (_, px) in cases.items():
        want = hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest()
        assert out[d] == want, f"png case {d}"


def test_png_palette_out_of_range_and_illegal_depth_degrade_to_null(spark):
    """Contract edges: a palette index past PLTE, a type-3 file with
    no PLTE at all, and an illegal depth/type pair (16-bit palette)
    all degrade to NULL rows."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(73)
    idx = rng.randint(0, 4, (6, 6)).astype(np.uint8)
    pal3 = [(1, 2, 3), (4, 5, 6), (7, 8, 9)]  # 3 entries, indices hit 3
    over = _png(idx[..., None], color_type=3, palette=pal3)
    no_plte = _png(idx[..., None], color_type=3, palette=None)

    # hand-build a 16-bit PALETTE IHDR — illegal per RFC 2083 4.1.1
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00" * 8 for _ in range(4))
    bad_depth = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", bytes(range(12)))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [(1, over), (2, no_plte), (3, bad_depth)],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in
           M.resize_images(df, target=(4, 4), fake=False).collect()}
    assert len(out) == 3
    for d in (1, 2, 3):
        assert out[d]["resized_md5"] is None, d


def test_png_16bit_strips_to_high_byte(spark):
    """16-bit PNGs (types 0/2/4/6) decode by stripping each sample to
    its network-order high byte (libpng strip-16 semantics), across
    mixed filters and Adam7."""
    import hashlib

    import numpy as np

    rng = np.random.RandomState(79)
    h, w = 11, 9
    filters = ([0, 1, 2, 3, 4] * 3)[:h]
    px16 = rng.randint(0, 65536, (h, w, 3)).astype(np.uint16)
    g16 = rng.randint(0, 65536, (h, w, 1)).astype(np.uint16)
    ga16 = rng.randint(0, 65536, (h, w, 2)).astype(np.uint16)
    rgba16 = rng.randint(0, 65536, (h, w, 4)).astype(np.uint16)
    cases = {
        1: (_png(px16, filters, color_type=2, bitd=16),
            (px16 >> 8).astype(np.uint8)),
        2: (_png(g16, filters, color_type=0, bitd=16),
            np.repeat((g16 >> 8).astype(np.uint8), 3, axis=2)),
        3: (_png(ga16, filters, color_type=4, bitd=16),
            np.repeat((ga16[..., :1] >> 8).astype(np.uint8), 3, axis=2)),
        4: (_png(rgba16, filters, color_type=6, bitd=16),
            (rgba16[..., :3] >> 8).astype(np.uint8)),
        5: (_png(px16, filters, color_type=2, bitd=16, interlace=1),
            (px16 >> 8).astype(np.uint8)),
    }
    df = spark.createDataFrame(
        [(d, p) for d, (p, _) in cases.items()],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["resized_md5"]
        for r in M.resize_images(df, target=(w, h), fake=False).collect()
    }
    for d, (_, px) in cases.items():
        want = hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest()
        assert out[d] == want, f"png16 case {d}"


def test_video_meta_animated_gif(spark):
    """r13 video_meta GIF branch: an animated GIF reports its frame
    count and the graphic-control delay sum as duration; a static GIF
    reports 1 frame with NULL duration; truncation degrades to NULL."""
    import struct

    import numpy as np

    from hive_scripts_spark.operators.multimodal import video_meta

    rng = np.random.RandomState(83)
    pal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (4, 3))]

    def img_block(seed):
        # header(13) + 4-entry GCT(12) = 25 bytes; trailer is the last
        g = _gif(rng.randint(0, 4, (6, 6)), pal)
        return g[25:-1]

    def gce(delay_cs):
        return b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"

    head = _gif(rng.randint(0, 4, (6, 6)), pal, trailer=False)[:25]
    animated = (
        head + gce(5) + img_block(1) + gce(10) + img_block(2)
        + gce(20) + img_block(3) + b"\x3b"
    )
    static = _gif(rng.randint(0, 4, (6, 6)), pal)
    df = spark.createDataFrame(
        [(1, animated), (2, static), (3, animated[:20])],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in video_meta(df, fake=False).collect()}
    a = out[1]
    assert a["container"] == "gif" and a["n_frames"] == 3
    assert abs(a["duration_s"] - 0.35) < 1e-12
    s = out[2]
    assert s["container"] == "gif" and s["n_frames"] == 1
    assert s["duration_s"] is None
    assert out[3]["container"] is None and out[3]["n_frames"] is None


def test_gif_background_color_index(spark):
    """r12 ADVICE + r13 review: sub-screen frames composite onto the
    background color index (byte 11) resolved against the GLOBAL
    color table — never a frame-local palette; out-of-range indices
    fall back to entry 0, and with no GCT at all the index is
    meaningless (frame palette entry 0 fills)."""
    import hashlib

    import numpy as np

    rng = np.random.RandomState(67)
    pal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (8, 3))]
    lpal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (8, 3))]
    parr = np.array(pal, np.uint8)
    larr = np.array(lpal, np.uint8)
    sub = rng.randint(0, 8, size=(4, 5))

    def canvas_with(fill_rgb, px):
        c = np.zeros((10, 12, 3), np.uint8)
        c[:] = fill_rgb
        c[2 : 2 + 4, 3 : 3 + 5] = px
        return c

    cases = {
        # (payload, expected): global-table background resolution
        1: (_gif(sub, pal, frame_box=(3, 2), screen=(12, 10), bg=5),
            canvas_with(parr[5], parr[sub])),
        2: (_gif(sub, pal, frame_box=(3, 2), screen=(12, 10), bg=200),
            canvas_with(parr[0], parr[sub])),  # 200 > 8 -> entry 0
        # frame draws from a LOCAL palette; bg index still hits the GCT
        3: (_gif(sub, pal, frame_box=(3, 2), screen=(12, 10), bg=2,
                 local_palette=lpal),
            canvas_with(parr[2], larr[sub])),
        # no GCT: byte 11 is meaningless -> frame palette entry 0
        4: (_gif(sub, pal, frame_box=(3, 2), screen=(12, 10), bg=5,
                 local_palette=lpal, global_table=False),
            canvas_with(larr[0], larr[sub])),
    }
    df = spark.createDataFrame(
        [(d, p) for d, (p, _) in cases.items()],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["resized_md5"]
        for r in M.resize_images(df, target=(12, 10), fake=False).collect()
    }
    for d, (_, px) in cases.items():
        want = hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest()
        assert out[d] == want, f"gif bg case {d}"


def test_extract_frames_timestamps(spark):
    """r13 frame_ts_us: AVI frames stamp at avih-rate x sequence; MP4
    samples stamp from the stts decode-delta prefix over the mdhd
    timescale; a timing-free MP4 yields NULL timestamps."""
    import numpy as np

    from tests.jpeg_codec import encode_gray

    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in (16, 64, 100)]
    # AVI at 40000 us/frame
    avi = _avi(frames, us_per_frame=40000)
    # MP4: timescale 1000, deltas 40/40/40 ticks -> 0, 40ms, 80ms
    mp4_t = _mp4(frames, timing=(1000, [40, 40, 40]))
    mp4_n = _mp4(frames)  # no mdhd/stts
    df = spark.createDataFrame(
        [(1, avi), (2, mp4_t), (3, mp4_n)],
        "doc_id long, payload binary",
    )
    out = M.extract_frames(df, every_n=1).collect()
    ts = {}
    for r in out:
        ts.setdefault(r["doc_id"], {})[r["frame_index"]] = r["frame_ts_us"]
    assert ts[1] == {0: 0, 1: 40000, 2: 80000}
    assert ts[2] == {0: 0, 1: 40000, 2: 80000}
    assert ts[3] == {0: None, 1: None, 2: None}


def test_extract_frames_multistream_avi(spark):
    """r13 ADVICE: a multi-stream AVI interleaves every stream's
    chunks in movi, so a shared sequence counter misattributes the
    avih frame clock. The walker must sequence ONLY the video
    stream's chunks: with strl headers, the first 'vids' strl names
    the stream (here stream 01, after an 'auds' stream 00); without
    strl, the first dc/db chunk's stream id wins and other streams'
    chunks are skipped."""
    import hashlib
    import struct

    import numpy as np

    from tests.jpeg_codec import encode_gray

    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in (16, 64, 100)]

    def chunk(ckid, data):
        pad = b"\x00" if len(data) & 1 else b""
        return ckid + len(data).to_bytes(4, "little") + data + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    def strl(fcc):
        return lst(b"strl", chunk(b"strh", fcc + b"\x00" * 52))

    avih = bytearray(56)
    avih[0:4] = (40000).to_bytes(4, "little")
    avih[16:20] = len(frames).to_bytes(4, "little")
    avih[24:28] = (2).to_bytes(4, "little")  # dwStreams = 2

    # audio stream 00 first, video stream 01 second; movi interleaves
    # one '00wb' audio chunk before each '01dc' video frame
    hdrl = lst(
        b"hdrl", chunk(b"avih", bytes(avih)) + strl(b"auds") + strl(b"vids")
    )
    movi_body = b"".join(
        chunk(b"00wb", b"\x11" * 10) + chunk(b"01dc", fb) for fb in frames
    )
    body = b"AVI " + hdrl + lst(b"movi", movi_body)
    two_stream = b"RIFF" + len(body).to_bytes(4, "little") + body

    # no strl headers: two video streams interleaved as 00dc/01dc —
    # the first-seen stream (00) wins, the other is skipped
    hdrl_min = lst(b"hdrl", chunk(b"avih", bytes(avih)))
    movi_min = b"".join(
        chunk(b"00dc", fb) + chunk(b"01dc", frames[0]) for fb in frames
    )
    body2 = b"AVI " + hdrl_min + lst(b"movi", movi_min)
    fallback = b"RIFF" + len(body2).to_bytes(4, "little") + body2

    # junk bytes containing 'strh' inside a non-strl hdrl chunk must
    # not shift the stream ordinal (the strh scan walks the actual
    # chunk structure, not raw byte-finds)
    hdrl_junk = lst(
        b"hdrl",
        chunk(b"avih", bytes(avih))
        + chunk(b"JUNK", b"xxstrhxxvidsxx")
        + strl(b"auds")
        + strl(b"vids"),
    )
    body3 = b"AVI " + hdrl_junk + lst(
        b"movi",
        b"".join(
            chunk(b"00wb", b"\x22" * 8) + chunk(b"01dc", fb)
            for fb in frames
        ),
    )
    junky = b"RIFF" + len(body3).to_bytes(4, "little") + body3

    df = spark.createDataFrame(
        [(1, two_stream), (2, fallback), (3, junky)],
        "doc_id long, payload binary",
    )
    out = M.extract_frames(df, every_n=1).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(
            (r["frame_index"], r["frame_ts_us"], r["frame_md5"])
        )
    md5s = [hashlib.md5(fb).hexdigest() for fb in frames]
    want = [(k, k * 40000, md5s[k]) for k in range(3)]
    assert sorted(got[1]) == want  # video chunks only, clean clock
    assert sorted(got[2]) == want  # fallback: first stream only
    assert sorted(got[3]) == want  # junk 'strh' doesn't shift ordinal


def test_extract_frames_ctts_and_corrupt_stts(spark):
    """r13 review fixes: ctts composition offsets turn decode times
    into presentation times (signed v1 offsets included); a corrupt
    stts entry count (0xFFFFFFFF) clamps to the box's real bytes
    instead of spinning for hours; an avih-less AVI whose FRAME BYTES
    contain 'avih' must not fabricate timestamps."""
    import struct

    import numpy as np

    from tests.jpeg_codec import encode_gray

    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in (16, 64, 100)]
    # ctts: PTS ticks = [0+80, 40+0, 80-40] -> us at tscale 1000
    with_ctts = _mp4(frames, timing=(1000, [40, 40, 40]),
                     ctts=[80, 0, -40])
    corrupt = bytearray(_mp4(frames, timing=(1000, [40, 40, 40])))
    j = bytes(corrupt).find(b"stts")
    corrupt[j + 8 : j + 12] = b"\xff\xff\xff\xff"  # entry count

    # hand-built AVI: no hdrl/avih, one movi chunk whose payload
    # contains the bytes 'avih' + junk that would parse as a rate
    fake_frame = b"avih" + b"\xff" * 24
    movi = b"00dc" + struct.pack("<I", len(fake_frame)) + fake_frame
    lst = b"LIST" + struct.pack("<I", 4 + len(movi)) + b"movi" + movi
    avi_nohdr = b"RIFF" + struct.pack("<I", 4 + len(lst)) + b"AVI " + lst

    df = spark.createDataFrame(
        [(1, with_ctts), (2, bytes(corrupt)), (3, avi_nohdr)],
        "doc_id long, payload binary",
    )
    out = M.extract_frames(df, every_n=1).collect()
    ts = {}
    for r in out:
        ts.setdefault(r["doc_id"], {})[r["frame_index"]] = r["frame_ts_us"]
    assert ts[1] == {0: 80000, 1: 40000, 2: 40000}
    # clamped stts still yields the 3 declared (1, 40) runs it can read
    assert ts[2] == {0: 0, 1: 40000, 2: 80000}
    assert ts[3] == {0: None}


def test_extract_frames_all_sample_table_counts_clamp(spark):
    """r13 review round 2: EVERY sample-table entry count (stsz, stco,
    stsc — not just stts/ctts) clamps to the box's real bytes, a
    truncated 8-byte ctts header at EOF degrades instead of dropping
    the clip, and absurd corrupt tick values become NULL timestamps
    rather than overflowing the Int64 column build."""
    import numpy as np

    from tests.jpeg_codec import encode_gray

    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in (16, 64)]
    base = _mp4(frames, two_chunks=False, timing=(1000, [40, 40]))

    def corrupt_count(payload, fourcc, count_off=8):
        ba = bytearray(payload)
        j = payload.find(fourcc)
        ba[j + count_off : j + count_off + 4] = b"\xff\xff\xff\xff"
        return bytes(ba)

    # stsz variable-size count, stco chunk count, stsc run count
    cases = {
        1: corrupt_count(base, b"stsz", 12),  # count field at body+8
        2: corrupt_count(base, b"stco"),
        3: corrupt_count(base, b"stsc"),
    }
    # truncated ctts: bare 8-byte box header appended... instead build
    # a clip whose ctts box is exactly a header (empty body)
    with_ctts = _mp4(frames, two_chunks=False,
                     timing=(1000, [40, 40]), ctts=[0, 0])
    j = with_ctts.find(b"ctts") - 4
    # shrink the ctts box to 8 bytes (header only) by rewriting its
    # size and splicing out the body
    body_len = int.from_bytes(with_ctts[j : j + 4], "big") - 8
    trunc = (
        with_ctts[:j]
        + (8).to_bytes(4, "big")
        + b"ctts"
        + with_ctts[j + 8 + body_len :]
    )
    cases[4] = trunc
    # absurd stts deltas at tscale 1: the tick prefix crosses int64
    # after the *1e6 scale around sample ~2150 — later sampled frames
    # must carry NULL, earlier ones real values, and the batch must
    # not die in the Int64 column build
    tiny = frames[0]
    n5 = 2200
    cases[5] = _mp4([tiny] * n5, two_chunks=False,
                    timing=(1, [2**32 - 1] * n5))

    df = spark.createDataFrame(
        list(cases.items()), "doc_id long, payload binary"
    )
    import time as _time

    t0 = _time.perf_counter()
    out = M.extract_frames(df, every_n=1).collect()
    dt = _time.perf_counter() - t0
    # the no-hang/no-OOM contract: the whole batch (incl. the corrupt
    # stco/stsc clips, whose rows may legitimately be absent) returns
    # promptly, and any rows that DID surface are well-formed
    assert dt < 30, f"corrupt sample tables took {dt:.1f}s"
    ts = {}
    for r in out:
        assert isinstance(r["frame_index"], int)
        assert r["frame_md5"] is None or len(r["frame_md5"]) == 32
        ts.setdefault(r["doc_id"], {})[r["frame_index"]] = r["frame_ts_us"]
    # 1: stsz count clamps to the 2 real entries -> both frames out
    assert set(ts[1]) == {0, 1}
    # 4: header-only ctts ignored; stts timestamps survive
    assert ts[4] == {0: 0, 1: 40000}
    out5 = M.extract_frames(
        spark.createDataFrame(
            [(5, cases[5])], "doc_id long, payload binary"
        ),
        every_n=30,
        max_frames=100,
    ).collect()
    ts5 = {r["frame_index"]: r["frame_ts_us"] for r in out5}
    assert ts5[0] == 0
    assert ts5[2130] == 2130 * (2**32 - 1) * 1_000_000
    assert ts5[2160] is None  # past int64 -> NULL, not a task kill


def test_extract_frames_rejects_non_integral_id_column(spark):
    """r12 ADVICE (+ r13 review): a non-numeric doc_id (the CLI's
    --id-col accepts any column) must fail loudly at plan time, not
    silently drop every frame inside the per-clip try/except; numeric
    non-long ids (int32, decimal) cast to long and keep working."""
    import decimal

    import numpy as np
    import pytest as _pt

    from tests.jpeg_codec import encode_gray

    for schema, bad in (
        ("doc_id string, payload binary", "doc-1"),
        # double: NaN would cast to 0 and fractions silently merge
        ("doc_id double, payload binary", 7.4),
        # decimal wider than long: overflow casts to NULL silently
        ("doc_id decimal(38,0), payload binary", decimal.Decimal(7)),
    ):
        df = spark.createDataFrame([(bad, b"RIFF")], schema)
        with _pt.raises(TypeError, match="integral doc_id"):
            M.extract_frames(df)

    f = encode_gray(np.full((8, 8), 64, np.uint8))
    for schema, did in (
        ("doc_id int, payload binary", 7),
        ("doc_id decimal(10,0), payload binary", decimal.Decimal(7)),
    ):
        d2 = spark.createDataFrame([(did, _avi([f]))], schema)
        out = M.extract_frames(d2, every_n=1).collect()
        assert [r["doc_id"] for r in out] == [7], schema


def test_extract_frames_mp4_skips_defective_leading_video_track(spark):
    """r12 ADVICE: a 'vide' trak missing stbl/stsz/stco — or carrying
    an empty sample table — must not terminate the moov walk; the next
    track's samples still extract."""
    import hashlib

    import numpy as np

    from tests.jpeg_codec import encode_gray

    frames = [encode_gray(np.full((8, 8), g, np.uint8)) for g in (16, 64, 100)]
    for broken in ("no_stbl", "no_stsz", "no_stco", "empty"):
        df = spark.createDataFrame(
            [(1, _mp4(frames, broken_first=broken))],
            "doc_id long, payload binary",
        )
        out = M.extract_frames(df, every_n=1).collect()
        assert [r["frame_index"] for r in out] == [0, 1, 2], broken
        for r, fb in zip(out, frames):
            assert r["frame_md5"] == hashlib.md5(fb).hexdigest(), broken


def test_decompression_bomb_headers_degrade_fast(spark):
    """r13: tiny payloads whose headers declare absurd dimensions
    (the decompression-bomb shape) degrade to NULL quickly instead of
    materializing gigabytes — PNG (incl. a crafted high-ratio zlib
    stream), GIF logical screen, and JPEG SOF are all capped by
    MAX_DECODE_PIXELS, and PNG inflation is bounded to the declared
    scanline bytes."""
    import struct
    import time
    import zlib

    import numpy as np

    def png_chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # PNG claiming 60000x60000 RGB with a tiny, highly-compressible
    # IDAT (zeros compress ~1000:1) — unbounded inflate would try to
    # materialize ~10.8 GB of scanlines
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    bomb_png = (
        b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(b"\x00" * 1_000_000))
        + png_chunk(b"IEND", b"")
    )
    # GIF logical screen 60000x60000 (14-byte header, no data)
    bomb_gif = (
        b"GIF89a" + (60000).to_bytes(2, "little")
        + (60000).to_bytes(2, "little") + b"\x00\x00\x00"
    )
    # JPEG SOF0 declaring 60000x60000
    sof = struct.pack(">BHHB", 8, 60000, 60000, 1) + bytes([1, 0x11, 0])
    bomb_jpg = (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xd9"
    )
    df = spark.createDataFrame(
        [(1, bomb_png), (2, bomb_gif), (3, bomb_jpg)],
        "doc_id long, payload binary",
    )
    t0 = time.perf_counter()
    out = {r["doc_id"]: r for r in
           M.resize_images(df, target=(4, 4), fake=False).collect()}
    dt = time.perf_counter() - t0
    assert len(out) == 3
    for d in (1, 2, 3):
        assert out[d]["resized_md5"] is None, d
    assert dt < 30, f"bomb payloads took {dt:.1f}s"


def test_all_codec_paths_survive_byte_flip_fuzz(spark):
    """Cross-format corruption sweep: byte-flipped PNG (sequential +
    Adam7), GIF, AVI and MP4 payloads must all flow through
    resize_images / extract_frames as rows or zero rows — never
    exceptions. The JPEG twin lives in
    test_jpeg_corruption_fuzz_never_raises."""
    import numpy as np

    from tests.jpeg_codec import encode_gray

    rng = np.random.RandomState(61)
    px = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    pal = [(int(r), int(g), int(b_)) for r, g, b_ in rng.randint(0, 256, (4, 3))]
    jf = encode_gray(np.full((8, 8), 100, np.uint8))
    bases = [
        _png(px, filters=[1, 2, 3, 4] * 4),
        _png(px, filters=[0, 3] * 8, interlace=1),
        _png(rng.randint(0, 4, (9, 9)).astype(np.uint8), color_type=3,
             bitd=2, palette=pal),
        _png(rng.randint(0, 2, (9, 9)).astype(np.uint8), color_type=0,
             bitd=1, interlace=1),
        _gif(rng.randint(0, 4, size=(9, 9)), pal),
        _avi([jf, jf, jf]),
        _mp4([jf, jf, jf]),
    ]
    rows = []
    did = 0
    for base in bases:
        ba = bytearray(base)
        for _ in range(12):
            mutated = bytearray(ba)
            for _ in range(rng.randint(1, 4)):
                mutated[rng.randint(0, len(mutated))] = rng.randint(0, 256)
            rows.append((did, bytes(mutated)))
            did += 1
        rows.append((did, bytes(ba[: rng.randint(1, len(ba))])))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert M.resize_images(df, target=(4, 4), fake=False).count() == len(rows)
    M.extract_frames(df, every_n=1).count()  # must not raise


def test_frame_md5_literals():
    """x_multimodal_frames' oracle md5 literals are exactly the md5 of
    the registered JPEG plan literals — re-derived so an edit to either
    side fails."""
    import hashlib

    from hive_scripts_spark.plans.extension_queries import (
        _JPEG_GRAY_HEX,
        _JPEG_GRAY_MD5,
    )

    assert set(_JPEG_GRAY_MD5) == set(_JPEG_GRAY_HEX)
    for g, want in _JPEG_GRAY_MD5.items():
        assert hashlib.md5(bytes.fromhex(_JPEG_GRAY_HEX[g])).hexdigest() == want


def test_png_plan_literals():
    """x_multimodal_resize_png's plan literals are exactly this file's
    encoder output for constant index-k images over _PNG_PALETTE."""
    import numpy as np

    from hive_scripts_spark.plans.extension_queries import (
        _PNG_CONST_HEX,
        _PNG_PALETTE,
    )

    for k, want in _PNG_CONST_HEX.items():
        idx = np.full((8, 8), k, np.uint8)
        got = _png(idx, color_type=3, bitd=2, palette=list(_PNG_PALETTE))
        assert got.hex() == want, k


def test_gif_plan_literals():
    """x_multimodal_resize_gif's plan literals are exactly this file's
    encoder output for constant index-k images over _GIF_PALETTE."""
    import numpy as np

    from hive_scripts_spark.plans.extension_queries import (
        _GIF_CONST_HEX,
        _GIF_PALETTE,
    )

    for k, want in _GIF_CONST_HEX.items():
        idx = np.full((8, 8), k, np.uint8)
        assert _gif(idx, list(_GIF_PALETTE)).hex() == want, k
