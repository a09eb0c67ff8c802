"""Multimodal column plumbing (SURVEY §2.9 — north star).

Model: image/audio/video payloads are **opaque ``binary`` columns** with
typed metadata alongside (``modality``, byte length, content hash). The
heavy steps — decode, resize, frame-sample, feature-extract — run as
Arrow-batched Pandas UDFs over ``mapInPandas`` so each partition streams
through Python in columnar batches (never row-at-a-time).

Codec posture (no image/audio libraries in this container). The REAL
parsers are the **default** (``fake=False``); ``fake=True`` opts into a
deterministic synthetic decode (md5-derived metadata) used by the
plumbing-oracle queries and anywhere reproducible fixtures matter:

* ``decode_image_meta`` parses REAL image headers for the formats whose
  dimensions are pure header fields — BMP, PNG, GIF, JPEG (SOF scan),
  and the netpbm family (P1–P6) — spec-level byte arithmetic, no codec
  library. Unrecognized/corrupt payloads yield NULL dims (a 100 TB job
  must not die on one bad file); nothing raises.
* ``audio_features`` REAL-decodes WAV/RIFF audio — integer PCM
  8/16/24/32-bit and IEEE-float 32/64 (r12), any channel count —
  header chunk walk + numpy sample decode; compressed formats yield
  NULL features.
* ``resize_images`` is REAL nearest-neighbor resampling for the
  formats whose pixels are reachable without a codec library: raw
  PPM P6, uncompressed 24-bit BMP, 8-bit-RGB PNG (stdlib ``zlib``
  IDAT inflate + per-scanline unfilter, sequential and Adam7
  interlaced), and — new r12 — **Huffman-coded DCT JPEG, baseline
  (SOF0/1) AND progressive (SOF2)** (numpy entropy decode + IDCT:
  generic DQT/DHT, restart markers, spectral selection + successive
  approximation, grayscale + JFIF YCbCr with subsampling) and **GIF**
  (LZW decode, interlace, first frame of animations);
  arithmetic/lossless/12-bit JPEG and other formats yield NULL rows.
* ``video_meta`` parses REAL container headers (MP4 ``moov``→``mvhd``
  duration, AVI ``avih`` frame count/rate); ``extract_frames`` (r12)
  REALLY extracts sampled frames from AVI ``movi`` chunks — MJPEG
  frames are whole JPEG payloads that pixel-decode straight through
  ``resize_images``, closing the video→frame→pixel chain end-to-end.
  Nothing in this module raises on real payloads — decode failures
  degrade to NULLs (or zero rows for the exploding frame extractor).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_scripts_spark.functions.skew import ensure_parallelism

#: pixel-decode ceiling (r13): a corrupt or adversarial header that
#: declares more pixels than this degrades to a NULL row instead of
#: materializing gigabytes per payload on an executor (a 1 KB "PNG"
#: claiming 65535x65535 would otherwise demand a ~12 GB RGB buffer —
#: the crawl-scale equivalent of a decompression bomb). 64M pixels
#: covers 8K x 8K frames; raise it only with executor memory to match.
MAX_DECODE_PIXELS = 1 << 26

#: metadata schema produced by the fake/real decoder.
DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def binarize(df: DataFrame, payload_col: str, id_col: str = "doc_id") -> DataFrame:
    """Lift a string payload column into the binary multimodal model:
    ``(id, payload binary, modality, byte_len)``. Real ingestion would
    read raw bytes (``spark.read.format('binaryFile')``); here utf-8
    encoding stands in for the byte stream."""
    payload = F.encode(F.col(payload_col), "utf-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.lit("image").alias("modality"),
        F.octet_length(F.col(payload_col)).alias("byte_len"),
    )


def decode_image_meta(
    df: DataFrame, fake: bool = False, parallelism: int | None = None
) -> DataFrame:
    """Decode image payloads to metadata via Arrow-batched ``mapInPandas``.

    ``fake=False`` parses REAL image headers — BMP (dims at offsets
    18/22, little-endian), PNG (IHDR bytes 16–24, big-endian), GIF
    (logical screen bytes 6–10, little-endian), netpbm P1–P6 (two ASCII
    tokens after the magic, ``#`` comments skipped) — pure byte
    arithmetic per the published format specs, no codec library. Payloads
    in any other format decode to NULL width/height rather than failing
    the job.

    Decode is CPU-dense per payload and ``mapInPandas`` runs one Python
    worker per input split; when the source has fewer splits than cores
    (single-row-group files — the local testdata case) pass
    ``parallelism`` to pre-repartition. Width-gated (r20): on an
    already-wide many-file lake it self-disables instead of shuffling
    the payload bytes.
    """
    df = ensure_parallelism(df, parallelism)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure: no references to module-level names
        # (those pickle by reference → ModuleNotFoundError on workers
        # whose cwd is outside this repo — the driver's setup)
        import hashlib as _hl

        def header_dims(b: bytes) -> tuple[int | None, int | None]:
            try:
                if b[:2] == b"BM" and len(b) >= 26:
                    w = int.from_bytes(b[18:22], "little", signed=True)
                    h = int.from_bytes(b[22:26], "little", signed=True)
                    return w, abs(h)  # negative height = top-down BMP
                if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
                    return (
                        int.from_bytes(b[16:20], "big"),
                        int.from_bytes(b[20:24], "big"),
                    )
                if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
                    return (
                        int.from_bytes(b[6:8], "little"),
                        int.from_bytes(b[8:10], "little"),
                    )
                if b[:2] == b"\xff\xd8":  # JPEG: scan segments for SOFn
                    i = 2
                    while i + 9 <= len(b):
                        if b[i] != 0xFF:
                            i += 1
                            continue
                        marker = b[i + 1]
                        if marker == 0xFF:  # 0xFF fill/padding byte
                            i += 1
                            continue
                        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                            i += 2  # standalone markers carry no length
                            continue
                        if marker in (0xD9, 0xDA):
                            # EOI, or SOS (entropy-coded data follows —
                            # no more length-framed segments to walk)
                            break
                        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                        # SOF0–SOF15 minus DHT/JPG/DAC (C4, C8, CC)
                        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                            return (
                                int.from_bytes(b[i + 7 : i + 9], "big"),
                                int.from_bytes(b[i + 5 : i + 7], "big"),
                            )
                        if seg_len < 2:
                            break
                        i += 2 + seg_len
                    return None, None
                if len(b) >= 2 and b[0:1] == b"P" and b[1:2] in b"123456":
                    toks, i, n = [], 2, len(b)
                    while len(toks) < 2 and i < n:
                        c = b[i : i + 1]
                        if c == b"#":
                            while i < n and b[i : i + 1] != b"\n":
                                i += 1
                        elif c.isspace():
                            i += 1
                        else:
                            j = i
                            while j < n and not b[j : j + 1].isspace():
                                j += 1
                            toks.append(b[i:j])
                            i = j
                    if len(toks) == 2:
                        return int(toks[0]), int(toks[1])
            except Exception:
                pass
            return None, None

        for pdf in batches:
            # a NULL payload stays None end-to-end: NULL byte_len and
            # content_md5, not len 0 / md5(b"") — hashing the absence
            # of bytes as empty bytes would collapse every failed
            # fetch and every genuinely empty payload into ONE
            # content-dedup survivor downstream
            payloads = [None if p is None else bytes(p) for p in pdf["payload"]]
            digests = [
                None if p is None else _hl.md5(p).hexdigest()
                for p in payloads
            ]
            if fake:
                metas = [
                    (None, None)
                    if d is None
                    else (1 + int(d[:4], 16) % 1024, 1 + int(d[4:8], 16) % 1024)
                    for d in digests
                ]
            else:
                metas = [
                    (None, None) if p is None else header_dims(p)
                    for p in payloads
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "byte_len": pd.Series(
                        [None if p is None else len(p) for p in payloads],
                        dtype="Int64",
                    ),
                    "content_md5": digests,
                    "width": pd.Series([m[0] for m in metas], dtype="Int32"),
                    "height": pd.Series([m[1] for m in metas], dtype="Int32"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(decode_batches, DECODE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized_md5", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    target: tuple[int, int] = (224, 224),
    fake: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Image resize via Arrow-batched ``mapInPandas``.

    The default is a REAL nearest-neighbor resample for the formats
    whose pixels are reachable without a codec library — PPM ``P6``
    (binary RGB), uncompressed 24-bit BMP, PNG (stdlib ``zlib``
    inflate of the IDAT stream + per-scanline unfilter, sequential
    AND Adam7 interlaced: every legal RFC 2083 depth/type pair — 8-bit
    truecolor/RGBA, grayscale(+alpha), PLTE-indexed, 1/2/4-bit gray
    and palette, 16-bit stripped to the high byte; alpha dropped —
    r13), GIF (r12: LZW decompression with variable code width and
    dictionary reset, 4-pass interlace, first frame of animations,
    sub-screen frames composited on the background color), and
    Huffman-coded DCT JPEG — baseline (SOF0/1) and
    progressive (SOF2) (r12: numpy-only T.81 decode — generic DQT/DHT
    parsing, restart markers, spectral selection + successive
    approximation, grayscale and JFIF YCbCr with pixel-replication
    chroma upsampling; round-tripped at the coefficient level against
    an independent encoder in ``tests/test_multimodal.py``, with the
    progressive path pinned to decode bit-identically to the baseline
    encoding of the same coefficients) — decoded and index-sampled
    with numpy; ``resized_md5`` hashes the resized RGB buffer, so
    identical images resize to identical fingerprints regardless of
    their container. Payloads whose headers declare more than
    ``MAX_DECODE_PIXELS`` (64M px — the decompression-bomb ceiling;
    PNG inflation is additionally bounded to the declared scanline
    bytes) degrade to NULL. Arithmetic/lossless/12-bit JPEG and other/corrupt
    payloads yield NULL dims/hash (one bad object must not kill the
    batch).

    The fake path emits the target dims plus a deterministic pseudo
    "resized content" hash (md5 of payload + dims) so downstream plumbing
    (schema, joins on doc_id, dedup of resized content) is fully
    exercisable without real rasters. (``parallelism``: see
    :func:`decode_image_meta`.)
    """
    df = ensure_parallelism(df, parallelism)

    # captured into the closure BEFORE batches is defined so it pickles
    # by value (workers can't import repo modules in the driver's
    # vanilla run): declared-dimension ceiling per payload
    max_px = MAX_DECODE_PIXELS

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import numpy as np

        tw, th = int(target[0]), int(target[1])

        def _unfilter_run34(data34, frun, prev0, ch, T=512):
            # Tiled anti-diagonal wavefront unfilter for a run of
            # consecutive Average/Paeth scanlines. Cell (y,p) depends only
            # on its left / up / up-left neighbors, i.e. on the two prior
            # anti-diagonals, so a run of R rows costs R+W vectorized
            # steps instead of R*stride interpreted byte steps; TxT tiles
            # keep the working set cache-resident. Bit-identical to the
            # sequential recurrence (fuzz-locked in test_multimodal).
            #   data34: (R, stride) filtered bytes; frun: (R,) filter ids
            #   (3/4); prev0: (stride,) reconstructed row above the run.
            R, stride = data34.shape
            W = stride // ch
            l16 = data34.reshape(R, W, ch).astype(np.int16)
            out = np.empty((R, W, ch), np.int16)
            prevrow = prev0.reshape(W, ch).astype(np.int16)
            allavg = bool((frun == 3).all())
            allpaeth = bool((frun == 4).all())
            mask3 = None if (allavg or allpaeth) else (frun == 3)[:, None]
            for ty in range(0, R, T):
                ry = min(T, R - ty)
                for tx in range(0, W, T):
                    rx = min(T, W - tx)
                    # ghost-padded skew buffers: grid cell (Y,P) (1-based)
                    # lives at [Y, Y+P]; anti-diagonal s = Y+P is then the
                    # column s, so each step is a cached column slice.
                    # Ghost row 0 = scanline above, ghost col (P=0) = left
                    # border (zeros per the PNG spec at x < bpp).
                    B = np.zeros((ry + 1, ry + rx + 1, ch), np.int16)
                    Bl = np.empty((ry + 1, ry + rx + 1, ch), np.int16)
                    if ty > 0:
                        B[0, 1 : rx + 1] = out[ty - 1, tx : tx + rx]
                        if tx > 0:
                            B[0, 0] = out[ty - 1, tx - 1]
                    else:
                        B[0, 1 : rx + 1] = prevrow[tx : tx + rx]
                        if tx > 0:
                            B[0, 0] = prevrow[tx - 1]
                    if tx > 0:
                        yi = np.arange(1, ry + 1)
                        B[yi, yi] = out[ty : ty + ry, tx - 1]
                    for y in range(1, ry + 1):
                        Bl[y, y + 1 : y + rx + 1] = l16[ty + y - 1, tx : tx + rx]
                    for s in range(2, ry + rx + 1):
                        ylo = max(1, s - rx)
                        yhi = min(ry, s - 1)
                        lv = Bl[ylo : yhi + 1, s]
                        left = B[ylo : yhi + 1, s - 1]
                        up = B[ylo - 1 : yhi, s - 1]
                        if allavg:
                            B[ylo : yhi + 1, s] = (lv + ((left + up) >> 1)) & 0xFF
                            continue
                        ul = B[ylo - 1 : yhi, s - 2]
                        pa = np.abs(up - ul)
                        pb = np.abs(left - ul)
                        pc = np.abs(left + up - 2 * ul)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc),
                            left,
                            np.where(pb <= pc, up, ul),
                        )
                        t4 = (lv + pred) & 0xFF
                        if allpaeth:
                            B[ylo : yhi + 1, s] = t4
                        else:
                            t3 = (lv + ((left + up) >> 1)) & 0xFF
                            B[ylo : yhi + 1, s] = np.where(
                                mask3[ty + ylo - 1 : ty + yhi], t3, t4
                            )
                    for y in range(1, ry + 1):
                        out[ty + y - 1, tx : tx + rx] = B[y, y + 1 : y + rx + 1]
            return out.astype(np.uint8).reshape(R, stride)

        def decode_rgb(b: bytes):
            # returns an (h, w, 3) uint8 array for raw-pixel formats
            try:
                if b[:2] == b"P6":
                    toks, i, n = [], 2, len(b)
                    while len(toks) < 3 and i < n:
                        c = b[i : i + 1]
                        if c == b"#":
                            while i < n and b[i : i + 1] != b"\n":
                                i += 1
                        elif c.isspace():
                            i += 1
                        else:
                            j = i
                            while j < n and not b[j : j + 1].isspace():
                                j += 1
                            toks.append(b[i:j])
                            i = j
                    if len(toks) == 3 and i < n:
                        w, h = int(toks[0]), int(toks[1])
                        raw = b[i + 1 : i + 1 + w * h * 3]
                        if len(raw) == w * h * 3:
                            return np.frombuffer(raw, np.uint8).reshape(h, w, 3)
                if b[:2] == b"BM" and len(b) >= 34:
                    off = int.from_bytes(b[10:14], "little")
                    w = int.from_bytes(b[18:22], "little", signed=True)
                    hh = int.from_bytes(b[22:26], "little", signed=True)
                    bpp = int.from_bytes(b[28:30], "little")
                    comp = int.from_bytes(b[30:34], "little")
                    h = abs(hh)
                    if bpp == 24 and comp == 0 and w > 0 and h > 0:
                        stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
                        raw = b[off : off + stride * h]
                        if len(raw) == stride * h:
                            rows = np.frombuffer(raw, np.uint8).reshape(h, stride)
                            px = rows[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR
                            return px if hh < 0 else px[::-1]  # bottom-up
                if b[:8] == b"\x89PNG\r\n\x1a\n":
                    # stdlib-only PNG pixel path: chunk walk → zlib
                    # inflate of the concatenated IDAT stream → per-
                    # scanline unfilter (RFC 2083 filters 0-4). Scope:
                    # 8-bit truecolor (type 2) and truecolor+alpha
                    # (type 6, alpha dropped), 8-bit grayscale (0) and
                    # gray+alpha (4, alpha dropped), PLTE-indexed (3),
                    # the sub-byte 1/2/4-bit depths of types 0/3, and
                    # 16-bit 0/2/4/6 stripped to the high byte (r13 —
                    # every legal RFC 2083 depth/type pair), sequential
                    # AND Adam7 interlaced. Corrupt streams return
                    # None (NULL row), never raise.
                    import zlib

                    i, n = 8, len(b)
                    w = h = None
                    bitd = colort = interlace = None
                    idat = []
                    plte = None
                    while i + 8 <= n:
                        ln = int.from_bytes(b[i : i + 4], "big")
                        ctype = b[i + 4 : i + 8]
                        if ctype == b"IHDR" and ln >= 13:
                            d = b[i + 8 : i + 21]
                            w = int.from_bytes(d[0:4], "big")
                            h = int.from_bytes(d[4:8], "big")
                            bitd, colort, interlace = d[8], d[9], d[12]
                        elif ctype == b"PLTE" and ln >= 3 and ln % 3 == 0:
                            plte = np.frombuffer(
                                b[i + 8 : i + 8 + ln], np.uint8
                            ).reshape(-1, 3)
                        elif ctype == b"IDAT":
                            idat.append(b[i + 8 : i + 8 + ln])
                        elif ctype == b"IEND":
                            break
                        i += 12 + ln  # length + type + data + crc
                    if not (w and h and interlace in (0, 1) and idat):
                        return None
                    if w * h > max_px:
                        return None  # decompression-bomb ceiling
                    # samples per pixel by color type; legal bit depths
                    # per RFC 2083 sect. 4.1.1 (16-bit strips to the
                    # high byte, libpng png_set_strip_16 semantics)
                    if colort in (2, 6):
                        if bitd not in (8, 16):
                            return None
                        ch = 3 if colort == 2 else 4
                    elif colort == 4:
                        if bitd not in (8, 16):
                            return None
                        ch = 2
                    elif colort == 0:
                        if bitd not in (1, 2, 4, 8, 16):
                            return None
                        ch = 1
                    elif colort == 3:
                        if bitd not in (1, 2, 4, 8) or plte is None:
                            return None
                        ch = 1
                    else:
                        return None
                    # filters operate on BYTES: offset = bytes/pixel,
                    # floored to 1 for sub-byte depths (RFC 2083 6.2)
                    fbpp = ch * 2 if bitd == 16 else (ch if bitd == 8 else 1)

                    def unfilter_image(fdata, flts, h, stride):
                        # RFC 2083 filters 0-4 over one (sub-)image:
                        # shared by the sequential path and each Adam7
                        # pass (every pass filters independently)
                        out = np.empty((h, stride), np.uint8)
                        prev = np.zeros(stride, np.uint8)
                        y = 0
                        while y < h:
                            flt = int(flts[y])
                            if flt >= 3:
                                # maximal run of Average/Paeth rows; long runs
                                # take the tiled wavefront (>=5x at real image
                                # sizes), short ones the per-row list path
                                # whose fixed numpy overhead they can't beat
                                # (break-even measured at run ~16-24 rows).
                                e = y + 1
                                while e < h and flts[e] >= 3:
                                    e += 1
                                if e - y >= 24:
                                    out[y:e] = _unfilter_run34(
                                        fdata[y:e], flts[y:e], prev, fbpp
                                    )
                                    prev = out[e - 1]
                                    y = e
                                    continue
                            line = fdata[y]
                            if flt == 0:  # None
                                cur = line.copy()
                            elif flt == 2:  # Up
                                cur = line + prev  # uint8 wraps mod 256
                            elif flt == 1:  # Sub: per-channel cumsum mod 256
                                cur = (
                                    np.cumsum(
                                        line.reshape(-1, fbpp).astype(np.int64),
                                        axis=0,
                                    )
                                    .astype(np.uint8)
                                    .reshape(-1)
                                )
                            else:
                                # short Average/Paeth run: the recurrence
                                # needs the RECONSTRUCTED (mod-256) left byte
                                # before the nonlinear floor-div / min-
                                # predictor, so within one row no cumsum
                                # vectorization exists — plain-list
                                # arithmetic (C-level tolist(), ~20 ns list
                                # index vs ~150 ns numpy scalar round-trip)
                                # with the filter branch hoisted out.
                                lin = line.tolist()
                                pv = prev.tolist()
                                rec = [0] * stride
                                if flt == 3:  # Average
                                    for x in range(fbpp):
                                        rec[x] = (lin[x] + (pv[x] >> 1)) & 0xFF
                                    for x in range(fbpp, stride):
                                        rec[x] = (
                                            lin[x] + ((rec[x - fbpp] + pv[x]) >> 1)
                                        ) & 0xFF
                                else:  # Paeth
                                    for x in range(fbpp):
                                        rec[x] = (lin[x] + pv[x]) & 0xFF
                                    for x in range(fbpp, stride):
                                        a = rec[x - fbpp]
                                        up = pv[x]
                                        c = pv[x - fbpp]
                                        p = a + up - c
                                        pa = abs(p - a)
                                        pb = abs(p - up)
                                        pc = abs(p - c)
                                        pred = (
                                            a
                                            if pa <= pb and pa <= pc
                                            else (up if pb <= pc else c)
                                        )
                                        rec[x] = (lin[x] + pred) & 0xFF
                                cur = np.array(rec, np.uint8)
                            out[y] = cur
                            prev = cur
                            y += 1
                        return out

                    def to_samples(out, hh, ww):
                        # (hh, stride) unfiltered bytes -> (hh, ww, ch)
                        # raw samples (gray values / palette indices);
                        # sub-byte depths unpack MSB-first per RFC
                        # 2083; 16-bit keeps the network-order HIGH
                        # byte (strip-16)
                        if bitd == 8:
                            return out.reshape(hh, ww, ch)
                        if bitd == 16:
                            return out.reshape(hh, ww, ch, 2)[..., 0]
                        bits = np.unpackbits(out, axis=1)[:, : ww * bitd]
                        weights = 1 << np.arange(bitd - 1, -1, -1)
                        return (
                            (bits.reshape(hh, ww, bitd) * weights)
                            .sum(-1)
                            .astype(np.uint8)[..., None]
                        )

                    def expand(s):
                        # raw samples -> RGB; alpha channels drop
                        if colort in (2, 6):
                            return np.ascontiguousarray(s[..., :3])
                        if colort in (0, 4):
                            g = s[..., 0]
                            if bitd < 8:
                                # 255/(2^d-1) is exact for d in 1/2/4
                                g = (
                                    g.astype(np.uint16)
                                    * (255 // ((1 << bitd) - 1))
                                ).astype(np.uint8)
                            return np.repeat(g[..., None], 3, axis=2)
                        if int(s.max(initial=0)) >= len(plte):
                            return None  # index past the palette
                        return np.ascontiguousarray(plte[s[..., 0]])

                    # scanline byte stride: sub-byte rows pack then pad
                    # to a byte boundary (RFC 2083 section 2.3)
                    def byte_stride(ww):
                        return (ww * bitd * ch + 7) // 8

                    # Adam7 pass geometry (RFC 2083 2.6) — ONE table
                    # shared by the inflate bound and the scatter loop
                    # so they can never desynchronize
                    adam7 = (
                        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                        (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                        (0, 1, 1, 2),
                    )
                    # inflate BOUNDED to the scanline bytes the declared
                    # geometry can consume — a crafted IDAT stream can't
                    # expand past it (legit files produce exactly this)
                    if interlace == 0:
                        expected = (byte_stride(w) + 1) * h
                    else:
                        expected = 0
                        for x0, y0, dx, dy in adam7:
                            wp = (w - x0 + dx - 1) // dx
                            hp = (h - y0 + dy - 1) // dy
                            if wp > 0 and hp > 0:
                                expected += (byte_stride(wp) + 1) * hp
                    raw = zlib.decompressobj().decompress(
                        b"".join(idat), expected
                    )
                    if interlace == 0:
                        stride = byte_stride(w)
                        if len(raw) < (stride + 1) * h:
                            return None
                        scan = np.frombuffer(
                            raw, np.uint8, (stride + 1) * h
                        ).reshape(h, stride + 1)
                        flts = scan[:, 0]
                        if int(flts.max(initial=0)) > 4:
                            return None
                        out = unfilter_image(scan[:, 1:], flts, h, stride)
                        return expand(to_samples(out, h, w))
                    # Adam7 interlace: seven independent sub-images,
                    # each with its own filter bytes, concatenated in
                    # the inflated stream; scatter each pass back onto
                    # the frame grid (RFC 2083 section 2.6)
                    full = np.empty((h, w, ch), np.uint8)
                    pos = 0
                    for x0, y0, dx, dy in adam7:
                        wp = (w - x0 + dx - 1) // dx
                        hp = (h - y0 + dy - 1) // dy
                        if wp <= 0 or hp <= 0:
                            continue  # empty pass emits no bytes
                        st = byte_stride(wp)
                        need = (st + 1) * hp
                        if pos + need > len(raw):
                            return None
                        scan = np.frombuffer(
                            raw, np.uint8, need, pos
                        ).reshape(hp, st + 1)
                        pos += need
                        flts = scan[:, 0]
                        if int(flts.max(initial=0)) > 4:
                            return None
                        sub = unfilter_image(scan[:, 1:], flts, hp, st)
                        full[y0::dy, x0::dx] = to_samples(sub, hp, wp)
                    return expand(full)
                if b[:2] == b"\xff\xd8":
                    return decode_jpeg(b)
                if b[:6] in (b"GIF87a", b"GIF89a"):
                    return decode_gif(b)
            except Exception:
                pass
            return None

        def decode_jpeg(b: bytes):
            # Huffman-coded DCT JPEG pixel decode (ITU-T T.81), numpy-
            # only: baseline (SOF0), extended sequential (SOF1) AND
            # progressive (SOF2, r12 — spectral selection + successive
            # approximation, the libjpeg default scan script most of
            # the web ships). Generic DQT/DHT parsing, restart markers,
            # grayscale + JFIF YCbCr with h/v subsampling (pixel-
            # replication chroma upsampling). Every scan accumulates
            # into per-component coefficient arrays; dequant + one
            # batched matrix IDCT run at the end. Arithmetic-coded,
            # hierarchical, lossless and 12-bit frames return None
            # (NULL row) per the module contract — decode failures
            # must degrade, never kill the batch.
            ZZ = np.array(
                [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
                 12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14,
                 21, 28, 35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23,
                 30, 37, 44, 51, 58, 59, 52, 45, 38, 31, 39, 46, 53, 60,
                 61, 54, 47, 55, 62, 63], np.int32)
            ZZL = ZZ.tolist()  # plain-int indices for the hot loop
            qt: dict[int, np.ndarray] = {}
            huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
            frame = None  # (h, w, [(cid, ch, cv, tq), ...])
            dri = 0
            i, n = 2, len(b)
            coefs: dict[int, np.ndarray] = {}  # cid -> (by, bx, 64)
            grids: dict[int, tuple] = {}  # cid -> (bw, bh) true block grid
            hmax = vmax = mcux = mcuy = None
            saw_scan = False

            # ---- per-scan entropy decoding state ----------------------
            # reservoir bit reader (r13): `acc` holds `nacc` MSB-first
            # bits (invariant acc < 2^nacc); huffdec peeks FL bits into
            # a prefix-expanded LUT instead of walking bit-by-bit
            # through a dict — the T.81 entropy walk is the per-image
            # sequential floor, and this cut it ~3x. EOFError fires
            # exactly when the needed bits don't exist (same whole-
            # image NULL boundary as the bit-at-a-time form).
            segments: list[bytes] = []
            seg_idx = 0
            data = b""
            acc = nacc = bpos = 0

            def getbit():
                nonlocal acc, nacc, bpos
                if nacc == 0:
                    if bpos >= len(data):
                        raise EOFError
                    acc = data[bpos]
                    bpos += 1
                    nacc = 8
                nacc -= 1
                bit = (acc >> nacc) & 1
                acc &= (1 << nacc) - 1
                return bit

            def getbits(k):
                nonlocal acc, nacc, bpos
                if k == 0:
                    return 0
                while nacc < k:
                    if bpos >= len(data):
                        raise EOFError
                    acc = (acc << 8) | data[bpos]
                    bpos += 1
                    nacc += 8
                nacc -= k
                v = acc >> nacc
                acc &= (1 << nacc) - 1
                return v

            def huffdec(table):
                nonlocal acc, nacc, bpos
                full, fl, fast = table
                while nacc < fl and bpos < len(data):
                    acc = (acc << 8) | data[bpos]
                    bpos += 1
                    nacc += 8
                if nacc >= fl:
                    e = fast[acc >> (nacc - fl)]
                    if e is not None:
                        sym, ln = e
                        nacc -= ln
                        acc &= (1 << nacc) - 1
                        return sym
                    # code longer than fl: consume fl bits, keep walking
                    code = acc >> (nacc - fl)
                    nacc -= fl
                    acc &= (1 << nacc) - 1
                    length = fl
                else:
                    length, code = 0, 0  # near EOF: exact tail walk
                while length < 16:
                    code = (code << 1) | getbit()
                    length += 1
                    sym = full.get((length, code))
                    if sym is not None:
                        return sym
                raise EOFError

            def extend(v, s):
                return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

            def decode_scan(smap, Ss, Se, Ah, Al):
                nonlocal seg_idx, data, bpos, acc, nacc
                seg_idx = 0
                data = segments[0]
                bpos = acc = nacc = 0
                pred = {cid: 0 for cid in smap}
                eobrun = 0
                units_done = 0
                p1, m1 = 1 << Al, -1 << Al

                def restart():
                    nonlocal seg_idx, data, bpos, acc, nacc, pred, eobrun
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise EOFError
                    data = segments[seg_idx]
                    bpos = acc = nacc = 0
                    pred = {cid: 0 for cid in smap}
                    eobrun = 0

                def dc_first(cid, dtab, blk):
                    s = huffdec(dtab)
                    pred[cid] += extend(getbits(s), s)
                    blk[0] = pred[cid] << Al

                def dc_refine(blk):
                    if getbit():
                        blk[0] = int(blk[0]) | p1

                def ac_first(atab, blk):
                    nonlocal eobrun
                    if eobrun > 0:
                        eobrun -= 1
                        return
                    k = Ss
                    while k <= Se:
                        rs = huffdec(atab)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += getbits(r)
                                return
                            k += 16
                            continue
                        k += r
                        if k > Se:
                            raise EOFError
                        blk[ZZ[k]] = extend(getbits(s), s) << Al
                        k += 1

                def ac_refine(atab, blk):
                    # T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine:
                    # correction bits ride along every nonzero
                    # coefficient the scan passes, including inside
                    # EOB runs. Like _ac_seq this is a per-coefficient
                    # hot loop, so it runs on LOCAL reservoir copies
                    # and a plain-list view of the block (numpy scalar
                    # reads per coefficient cost more than the logic),
                    # synced back on every exit path.
                    nonlocal eobrun, acc, nacc, bpos
                    full, fl, fast = atab
                    a, na, bp = acc, nacc, bpos
                    d = data
                    nd = len(d)
                    zz = ZZL
                    bl = blk.tolist()
                    k = Ss
                    try:
                        if eobrun == 0:
                            while k <= Se:
                                while na < fl and bp < nd:
                                    a = (a << 8) | d[bp]
                                    bp += 1
                                    na += 8
                                e = (
                                    fast[a >> (na - fl)]
                                    if na >= fl
                                    else None
                                )
                                if e is not None:
                                    rs, ln = e
                                    na -= ln
                                    a &= (1 << na) - 1
                                else:
                                    acc, nacc, bpos = a, na, bp
                                    rs = huffdec(atab)
                                    a, na, bp = acc, nacc, bpos
                                r, s = rs >> 4, rs & 15
                                val = 0
                                if s == 0:
                                    if r != 15:
                                        eobrun = 1 << r
                                        if r:
                                            while na < r:
                                                if bp >= nd:
                                                    raise EOFError
                                                a = (a << 8) | d[bp]
                                                bp += 1
                                                na += 8
                                            na -= r
                                            eobrun += a >> na
                                            a &= (1 << na) - 1
                                        break
                                else:
                                    if na == 0:
                                        if bp >= nd:
                                            raise EOFError
                                        a = d[bp]
                                        bp += 1
                                        na = 8
                                    na -= 1
                                    val = p1 if (a >> na) & 1 else m1
                                    a &= (1 << na) - 1
                                while k <= Se:
                                    z = bl[zz[k]]
                                    if z != 0:
                                        if na == 0:
                                            if bp >= nd:
                                                raise EOFError
                                            a = d[bp]
                                            bp += 1
                                            na = 8
                                        na -= 1
                                        bit = (a >> na) & 1
                                        a &= (1 << na) - 1
                                        if bit and (z & p1) == 0:
                                            bl[zz[k]] = z + (
                                                p1 if z >= 0 else m1
                                            )
                                    else:
                                        r -= 1
                                        if r < 0:
                                            break
                                    k += 1
                                if val:
                                    if k > Se:
                                        raise EOFError
                                    bl[zz[k]] = val
                                k += 1
                        if eobrun > 0:
                            while k <= Se:
                                z = bl[zz[k]]
                                if z != 0:
                                    if na == 0:
                                        if bp >= nd:
                                            raise EOFError
                                        a = d[bp]
                                        bp += 1
                                        na = 8
                                    na -= 1
                                    bit = (a >> na) & 1
                                    a &= (1 << na) - 1
                                    if bit and (z & p1) == 0:
                                        bl[zz[k]] = z + (
                                            p1 if z >= 0 else m1
                                        )
                                k += 1
                            eobrun -= 1
                    finally:
                        acc, nacc, bpos = a, na, bp
                        blk[:] = bl

                def decode_unit(cid, blk):
                    dct, act = smap[cid]
                    if Ss == 0:
                        if Ah == 0:
                            dc_first(cid, huff[(0, dct)], blk)
                        else:
                            dc_refine(blk)
                        if Se > 0:  # sequential full-block scan
                            _ac_seq(huff[(1, act)], blk)
                    else:
                        if Ah == 0:
                            ac_first(huff[(1, act)], blk)
                        else:
                            ac_refine(huff[(1, act)], blk)

                def _ac_seq(atab, blk):
                    # the sequential-AC loop is ~2/3 of all entropy
                    # work: run it on LOCAL copies of the reservoir
                    # (closure nonlocals + per-symbol calls cost more
                    # than the decode itself), syncing back on every
                    # exit path; long codes / EOF tails fall back to
                    # the shared huffdec
                    nonlocal acc, nacc, bpos
                    full, fl, fast = atab
                    a, na, bp = acc, nacc, bpos
                    d = data
                    nd = len(d)
                    zz = ZZL
                    k = 1
                    while k <= Se:
                        while na < fl and bp < nd:
                            a = (a << 8) | d[bp]
                            bp += 1
                            na += 8
                        e = fast[a >> (na - fl)] if na >= fl else None
                        if e is not None:
                            rs, ln = e
                            na -= ln
                            a &= (1 << na) - 1
                        else:
                            acc, nacc, bpos = a, na, bp
                            rs = huffdec(atab)
                            a, na, bp = acc, nacc, bpos
                        s = rs & 15
                        if s == 0:
                            if rs >> 4 != 15:
                                break
                            k += 16
                            continue
                        k += rs >> 4
                        if k > Se:
                            acc, nacc, bpos = a, na, bp
                            raise EOFError
                        while na < s:
                            if bp >= nd:
                                acc, nacc, bpos = a, na, bp
                                raise EOFError
                            a = (a << 8) | d[bp]
                            bp += 1
                            na += 8
                        na -= s
                        v = a >> na
                        a &= (1 << na) - 1
                        blk[zz[k]] = (
                            v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                        )
                        k += 1
                    acc, nacc, bpos = a, na, bp

                if len(smap) == 1:
                    # ns=1 scan is NON-interleaved (T.81 A.2.2): data
                    # units walk the component's own (unpadded) block
                    # grid; DRI counts blocks. AC progressive scans are
                    # always this shape — the spec forbids interleaved
                    # AC scans.
                    (cid,) = smap
                    bw, bh = grids[cid]
                    arr = coefs[cid]
                    for by in range(bh):
                        for bx in range(bw):
                            if dri and units_done and units_done % dri == 0:
                                restart()
                            decode_unit(cid, arr[by, bx])
                            units_done += 1
                else:
                    if Ss != 0:
                        raise EOFError  # interleaved AC scan: invalid
                    for my in range(mcuy):
                        for mx in range(mcux):
                            if dri and units_done and units_done % dri == 0:
                                restart()
                            for cid, ch_, cv, _tq in comps:
                                if cid not in smap:
                                    continue
                                arr = coefs[cid]
                                for by in range(cv):
                                    for bx in range(ch_):
                                        decode_unit(
                                            cid,
                                            arr[my * cv + by, mx * ch_ + bx],
                                        )
                            units_done += 1

            # ---- marker walk: headers + every scan to EOI -------------
            while i + 2 <= n:
                if b[i] != 0xFF:
                    return None
                m = b[i + 1]
                if m == 0xFF:  # optional fill byte before a marker
                    i += 1
                    continue
                if m == 0xD9:  # EOI
                    break
                if m == 0x01 or 0xD0 <= m <= 0xD8:
                    i += 2  # standalone marker (TEM/RSTn/SOI)
                    continue
                if m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                         0xCB, 0xCD, 0xCE, 0xCF):
                    return None  # lossless/arithmetic/hierarchical
                if i + 4 > n:
                    return None
                ln = int.from_bytes(b[i + 2 : i + 4], "big")
                seg = b[i + 4 : i + 2 + ln]
                if m == 0xDB:  # DQT: one or more tables
                    j = 0
                    while j < len(seg):
                        pq, tq = seg[j] >> 4, seg[j] & 15
                        j += 1
                        if pq == 0:
                            qt[tq] = np.frombuffer(
                                seg[j : j + 64], np.uint8
                            ).astype(np.int32)
                            j += 64
                        else:
                            qt[tq] = np.frombuffer(
                                seg[j : j + 128], ">u2"
                            ).astype(np.int32)
                            j += 128
                elif m == 0xC4:  # DHT: one or more tables
                    j = 0
                    while j < len(seg):
                        tc, th = seg[j] >> 4, seg[j] & 15
                        counts = list(seg[j + 1 : j + 17])
                        j += 17
                        table, code = {}, 0
                        maxlen = 0
                        for length in range(1, 17):
                            for _ in range(counts[length - 1]):
                                table[(length, code)] = seg[j]
                                maxlen = length
                                j += 1
                                code += 1
                            code <<= 1
                        # prefix-expanded peek LUT: fl-bit index ->
                        # (symbol, true length) for every code with
                        # length <= fl; None = longer code, walk on
                        fl = min(maxlen, 9) or 1
                        fast = [None] * (1 << fl)
                        for (length, c_), sym in table.items():
                            if length <= fl:
                                start = c_ << (fl - length)
                                for idx in range(
                                    start, start + (1 << (fl - length))
                                ):
                                    fast[idx] = (sym, length)
                        huff[(tc, th)] = (table, fl, fast)
                elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
                    if seg[0] != 8:
                        return None  # 12-bit precision
                    fh = int.from_bytes(seg[1:3], "big")
                    fw = int.from_bytes(seg[3:5], "big")
                    ncomp = seg[5]
                    comps = []
                    for c in range(ncomp):
                        o = 6 + 3 * c
                        comps.append(
                            (seg[o], seg[o + 1] >> 4, seg[o + 1] & 15,
                             seg[o + 2])
                        )
                    frame = (fh, fw, comps)
                    if fh == 0 or fw == 0 or ncomp not in (1, 3):
                        return None
                    if fh * fw > max_px:
                        return None  # declared-dimension ceiling
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    mcux = -(-fw // (8 * hmax))
                    mcuy = -(-fh // (8 * vmax))
                    for cid, ch_, cv, _tq in comps:
                        # allocate at interleaved (MCU-padded) size;
                        # non-interleaved scans touch only the true
                        # grid prefix
                        coefs[cid] = np.zeros(
                            (mcuy * cv, mcux * ch_, 64), np.int32
                        )
                        grids[cid] = (
                            -(-(-(-fw * ch_ // hmax)) // 8),
                            -(-(-(-fh * cv // vmax)) // 8),
                        )
                elif m == 0xDD:  # DRI
                    dri = int.from_bytes(seg[0:2], "big")
                elif m == 0xDA:  # SOS header + entropy data
                    if frame is None or len(seg) < 4:
                        return None
                    ns = seg[0]
                    smap = {}
                    for c in range(ns):
                        smap[seg[1 + 2 * c]] = (
                            seg[2 + 2 * c] >> 4,
                            seg[2 + 2 * c] & 15,
                        )
                    Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                    Ah = seg[3 + 2 * ns] >> 4
                    Al = seg[3 + 2 * ns] & 15
                    # entropy data: unstuff FF00, split at RST markers
                    pos = i + 2 + ln
                    segments, cur = [], bytearray()
                    while pos + 1 < n:
                        byte = b[pos]
                        if byte != 0xFF:
                            cur.append(byte)
                            pos += 1
                            continue
                        nxt = b[pos + 1]
                        if nxt == 0x00:
                            cur.append(0xFF)
                            pos += 2
                        elif 0xD0 <= nxt <= 0xD7:
                            segments.append(bytes(cur))
                            cur = bytearray()
                            pos += 2
                        else:
                            break  # EOI or next header marker
                    segments.append(bytes(cur))
                    decode_scan(smap, Ss, Se, Ah, Al)
                    saw_scan = True
                    i = pos
                    continue
                i += 2 + ln
            if frame is None or not saw_scan:
                return None
            fh, fw, comps = frame

            # ---- dequant + batched IDCT + assembly --------------------
            # DQT stores entries in ZIGZAG order (T.81 B.2.4.1);
            # coefficients were reassembled in natural order
            xs = np.arange(8)
            A = np.cos((2 * xs[:, None] + 1) * xs[None, :] * np.pi / 16) / 2
            A[:, 0] *= 1 / np.sqrt(2)
            planes = {}
            for cid, ch_, cv, tq in comps:
                zq = qt[tq]
                qn = np.empty(64, np.int32)
                qn[ZZ] = zq
                arr = coefs[cid]
                by, bx = arr.shape[:2]
                blocks = (arr * qn).reshape(by, bx, 8, 8).astype(np.float64)
                px = A @ blocks @ A.T  # batched over (by, bx)
                plane = px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
                if ch_ != hmax or cv != vmax:
                    plane = plane.repeat(vmax // cv, axis=0).repeat(
                        hmax // ch_, axis=1
                    )
                planes[cid] = plane[:fh, :fw]
            out_planes = [planes[c[0]] for c in comps]
            if len(out_planes) == 1:
                g = np.clip(np.round(out_planes[0] + 128), 0, 255)
                return np.ascontiguousarray(
                    np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
                )
            Y, Cb, Cr = (pl + 128 for pl in out_planes)
            Cb, Cr = Cb - 128, Cr - 128
            rgb = np.stack(
                [
                    Y + 1.402 * Cr,
                    Y - 0.344136 * Cb - 0.714136 * Cr,
                    Y + 1.772 * Cb,
                ],
                axis=2,
            )
            return np.ascontiguousarray(
                np.clip(np.round(rgb), 0, 255).astype(np.uint8)
            )

        def decode_gif(b: bytes):
            # GIF87a/89a first-frame pixel decode (r12): logical
            # screen + global/local color tables, LZW decompression
            # (LSB-first variable code width, clear/EOI codes,
            # 4095-entry dictionary with deferred-clear handling),
            # optional 4-pass interlace reorder. Animations render
            # frame 1; transparency drops to the palette RGB; frames
            # smaller than the logical screen composite onto a
            # background-colored canvas. Corrupt streams return None.
            w = int.from_bytes(b[6:8], "little")
            h = int.from_bytes(b[8:10], "little")
            if w == 0 or h == 0 or w * h > max_px:
                return None  # incl. the decompression-bomb ceiling
            flags = b[10]
            i = 13
            gct = None
            if flags & 0x80:
                sz = 3 * (2 << (flags & 7))
                gct = np.frombuffer(b[i : i + sz], np.uint8).reshape(-1, 3)
                i += sz
            n = len(b)
            while i < n:
                blk = b[i]
                if blk == 0x3B:  # trailer before any image
                    return None
                if blk == 0x21:  # extension: label + sub-blocks
                    i += 2
                    while i < n and b[i] != 0:
                        i += 1 + b[i]
                    i += 1
                    continue
                if blk != 0x2C:
                    return None
                left = int.from_bytes(b[i + 1 : i + 3], "little")
                top = int.from_bytes(b[i + 3 : i + 5], "little")
                iw = int.from_bytes(b[i + 5 : i + 7], "little")
                ih = int.from_bytes(b[i + 7 : i + 9], "little")
                lflags = b[i + 9]
                i += 10
                pal = gct
                if lflags & 0x80:
                    sz = 3 * (2 << (lflags & 7))
                    pal = np.frombuffer(
                        b[i : i + sz], np.uint8
                    ).reshape(-1, 3)
                    i += sz
                if pal is None or iw == 0 or ih == 0:
                    return None
                if iw * ih > max_px:
                    # the PER-FRAME descriptor needs its own bomb cap:
                    # a small logical screen with a 65535x65535 frame
                    # would otherwise grow out_idx toward gigabytes of
                    # ints before the bit supply runs dry
                    return None
                min_code = b[i]
                i += 1
                if not (1 <= min_code <= 11):
                    return None
                data = bytearray()
                while i < n and b[i] != 0:
                    ln = b[i]
                    data.extend(b[i + 1 : i + 1 + ln])
                    i += 1 + ln
                clear = 1 << min_code
                end = clear + 1
                out_idx: list[int] = []
                data_b = bytes(data)
                nbits = len(data_b) * 8
                bitpos = 0
                code_size = min_code + 1
                table: dict[int, list[int]] = {}
                next_code = end + 1
                prev = None
                need = iw * ih
                while bitpos + code_size <= nbits and len(out_idx) < need:
                    byte0 = bitpos >> 3
                    chunk = int.from_bytes(
                        data_b[byte0 : byte0 + 3], "little"
                    )
                    code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
                    bitpos += code_size
                    if code == clear:
                        code_size = min_code + 1
                        table = {}
                        next_code = end + 1
                        prev = None
                        continue
                    if code == end:
                        break
                    if code < clear:
                        entry = [code]
                    elif code in table:
                        entry = table[code]
                    elif code == next_code and prev is not None:
                        entry = prev + prev[:1]  # the KwKwK case
                    else:
                        return None  # corrupt code stream
                    out_idx.extend(entry)
                    if prev is not None and next_code < 4096:
                        table[next_code] = prev + entry[:1]
                        next_code += 1
                        # width grows when the NEXT code would not fit;
                        # at 4096 the dict freezes (deferred clear)
                        if (
                            next_code == (1 << code_size)
                            and code_size < 12
                        ):
                            code_size += 1
                    prev = entry
                if len(out_idx) < need:
                    return None
                idx = np.array(out_idx[:need], np.int32).reshape(ih, iw)
                if lflags & 0x40:  # interlaced: 4-pass row schedule
                    deint = np.empty_like(idx)
                    order = (
                        list(range(0, ih, 8))
                        + list(range(4, ih, 8))
                        + list(range(2, ih, 4))
                        + list(range(1, ih, 2))
                    )
                    deint[order] = idx
                    idx = deint
                if int(idx.max(initial=0)) >= len(pal):
                    return None
                px = pal[idx].astype(np.uint8)
                if (left, top, iw, ih) != (0, 0, w, h):
                    canvas = np.zeros((h, w, 3), np.uint8)
                    # logical screen descriptor byte 11 = background
                    # color index INTO THE GLOBAL color table (89a
                    # spec) — a frame-local palette must not be used
                    # to resolve it; without a GCT the index is
                    # meaningless and the canvas falls back to the
                    # frame palette's entry 0. Out-of-range indices
                    # also fall back to entry 0.
                    if gct is not None:
                        bg = b[11] if b[11] < len(gct) else 0
                        canvas[:] = gct[bg]
                    else:
                        canvas[:] = pal[0]
                    y1, x1 = min(h, top + ih), min(w, left + iw)
                    if top < h and left < w:
                        canvas[top:y1, left:x1] = px[: y1 - top, : x1 - left]
                    return canvas
                return np.ascontiguousarray(px)
            return None

        for pdf in it:
            # a NULL payload stays None: NULL dims/hash, never a
            # fabricated md5(b"")-derived value (see decode_image_meta)
            payloads = [None if p is None else bytes(p) for p in pdf["payload"]]
            if fake:
                tag = f"{tw}x{th}".encode()
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].astype("int64"),
                        "width": pd.Series(
                            [None if p is None else tw for p in payloads],
                            dtype="Int32",
                        ),
                        "height": pd.Series(
                            [None if p is None else th for p in payloads],
                            dtype="Int32",
                        ),
                        "resized_md5": [
                            None
                            if p is None
                            else _hl.md5(p + tag).hexdigest()
                            for p in payloads
                        ],
                    }
                )
                continue
            widths, heights, hashes = [], [], []
            for p in payloads:
                px = None if p is None else decode_rgb(p)
                if px is None:
                    widths.append(None)
                    heights.append(None)
                    hashes.append(None)
                    continue
                h, w = px.shape[:2]
                ys = np.minimum(((np.arange(th) + 0.5) * h / th), h - 1).astype(int)
                xs = np.minimum(((np.arange(tw) + 0.5) * w / tw), w - 1).astype(int)
                resized = np.ascontiguousarray(px[ys][:, xs])
                widths.append(tw)
                heights.append(th)
                hashes.append(_hl.md5(resized.tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.Series(widths, dtype="Int32"),
                    "height": pd.Series(heights, dtype="Int32"),
                    "resized_md5": hashes,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms_energy", T.DoubleType()),
    ]
)


def audio_features(
    df: DataFrame,
    sample_rate: int = 16000,
    fake: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Audio feature extraction over binary payloads.

    ``fake=False`` is a REAL decoder for WAV/RIFF PCM (the format whose
    samples are pure bytes — no codec library): the fmt chunk gives
    channels/sample-rate/bit-depth, the data chunk gives the samples;
    n_samples counts per-channel frames, duration uses the file's own
    rate, RMS runs over the decoded 8/16-bit PCM amplitudes (numpy
    ``frombuffer``). Non-WAV/compressed payloads yield NULL features
    rather than failing the batch. (``parallelism``: see
    :func:`decode_image_meta`.)

    ``fake=True`` (default for the oracle query) treats the payload
    bytes as 8-bit PCM at ``sample_rate``: n_samples = byte length,
    duration = n/sr, RMS over the byte values — deterministic and shaped
    exactly like the real path.

    Cross-engine exactness (fake path): the squared-byte sum accumulates
    in exact int64 and RMS/duration are each a SINGLE IEEE double divide
    (+sqrt) of exactly-representable ints — bit-identical on any engine,
    so the DuckDB oracle value-hashes without rounding fudge.
    """
    df = ensure_parallelism(df, parallelism)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        def wav_features(b: bytes):
            # RIFF/WAVE chunk walk — spec-level byte arithmetic only
            try:
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    return None, None, None
                i, n = 12, len(b)
                channels = rate = bits = None
                while i + 8 <= n:
                    cid = b[i : i + 4]
                    clen = int.from_bytes(b[i + 4 : i + 8], "little")
                    body = b[i + 8 : i + 8 + clen]
                    if cid == b"fmt " and len(body) >= 16:
                        fmt = int.from_bytes(body[0:2], "little")
                        channels = int.from_bytes(body[2:4], "little")
                        rate = int.from_bytes(body[4:8], "little")
                        bits = int.from_bytes(body[14:16], "little")
                        # integer PCM 8/16/24/32 (fmt 1) and IEEE-float
                        # 32/64 (fmt 3) — every uncompressed layout a
                        # real lake ships; anything else needs a codec
                        ok = (fmt == 1 and bits in (8, 16, 24, 32)) or (
                            fmt == 3 and bits in (32, 64)
                        )
                        if not ok or not channels:
                            return None, None, None
                    elif cid == b"data" and channels and rate and bits:
                        frame = channels * (bits // 8)
                        frames = len(body) // frame if frame else 0
                        if frames == 0:
                            return 0, 0.0, 0.0
                        raw = body[: frames * frame]
                        if fmt == 3:
                            a = np.frombuffer(
                                raw, dtype="<f4" if bits == 32 else "<f8"
                            ).astype("f8")
                            # float WAV is nominally [-1, 1]: RMS over
                            # the raw amplitudes, no int rescale
                            rms = math.sqrt(float((a * a).sum()) / a.size)
                            return frames, frames / float(rate), rms
                        if bits == 16:
                            a = np.frombuffer(raw, dtype="<i2").astype("i8")
                        elif bits == 32:
                            a = np.frombuffer(raw, dtype="<i4").astype("i8")
                        elif bits == 24:
                            # 3-byte little-endian signed: widen via a
                            # zero-padded 4th byte then arithmetic shift
                            u = np.frombuffer(raw, dtype=np.uint8).reshape(
                                -1, 3
                            )
                            a4 = np.zeros((u.shape[0], 4), np.uint8)
                            a4[:, 1:] = u
                            a = (
                                a4.view("<i4").reshape(-1).astype("i8") >> 8
                            )
                        else:
                            a = np.frombuffer(raw, dtype=np.uint8).astype(
                                "i8"
                            ) - 128
                        rms = math.sqrt(int((a * a).sum()) / a.size)
                        return frames, frames / float(rate), rms
                    i += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
            except Exception:
                pass
            return None, None, None

        for pdf in it:
            # a NULL payload stays None: NULL features, never a
            # fabricated 0-sample/0-energy reading (see
            # decode_image_meta)
            payloads = [None if p is None else bytes(p) for p in pdf["payload"]]
            if fake:
                n_list = [None if p is None else len(p) for p in payloads]
                rms = []
                for p in payloads:
                    if p:
                        a = np.frombuffer(p, dtype=np.uint8).astype("i8")
                        rms.append(math.sqrt(int((a * a).sum()) / len(p)))
                    else:
                        rms.append(None if p is None else 0.0)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].astype("int64"),
                        "n_samples": pd.Series(n_list, dtype="Int64"),
                        "duration_s": [
                            None if v is None else v / float(sample_rate)
                            for v in n_list
                        ],
                        "rms_energy": rms,
                    }
                )
            else:
                feats = [
                    (None, None, None) if p is None else wav_features(p)
                    for p in payloads
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].astype("int64"),
                        "n_samples": pd.Series(
                            [f[0] for f in feats], dtype="Int64"
                        ),
                        "duration_s": [f[1] for f in feats],
                        "rms_energy": [f[2] for f in feats],
                    }
                )

    return df.select("doc_id", "payload").mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


#: audio_spectral_features output: whole-clip FFT statistics
SPECTRAL_SCHEMA = (
    "doc_id long, n_samples long, zero_crossing_rate double, "
    "spectral_centroid_hz double, spectral_bandwidth_hz double, "
    "spectral_rolloff_hz double"
)


def audio_spectral_features(
    df: DataFrame,
    rolloff_pct: float = 0.85,
    parallelism: int | None = None,
) -> DataFrame:
    """Whole-clip spectral statistics over WAV payloads — the
    feature-extract step an audio curation pass filters on (tone-vs-
    noise, bandwidth gating, silence detection) without any codec
    library: numpy ``rfft`` over the mono mix of the same PCM layouts
    :func:`audio_features` decodes (int 8/16/24/32, IEEE-float 32/64).

    Per clip: ``zero_crossing_rate`` (fraction of adjacent sample
    pairs changing sign — for a pure tone ≈ 2·f/sr),
    ``spectral_centroid_hz`` (magnitude-weighted mean frequency),
    ``spectral_bandwidth_hz`` (magnitude-weighted standard deviation
    around the centroid), and ``spectral_rolloff_hz`` (lowest
    frequency below which ``rolloff_pct`` of total magnitude lies).
    Tested against ANALYTIC oracles (pure/two-tone sines at exact FFT
    bins), not a re-implementation. Silent clips yield NULL spectral
    columns (0/0 has no centroid) with zcr 0; non-WAV / corrupt
    payloads yield all-NULL features; NULL payloads stay NULL —
    the shared degradation contract. Map-only ``mapInPandas``: the
    100 TB shape is pure partition parallelism, no shuffle.
    """
    df = ensure_parallelism(df, parallelism)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def wav_samples(b: bytes):
            # same RIFF walk as audio_features, returning the mono-
            # mixed float samples + rate (closure-local: workers
            # can't import repo modules in the driver's vanilla run)
            try:
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    return None, None
                i, n = 12, len(b)
                fmt = channels = rate = bits = None
                while i + 8 <= n:
                    cid = b[i : i + 4]
                    clen = int.from_bytes(b[i + 4 : i + 8], "little")
                    body = b[i + 8 : i + 8 + clen]
                    if cid == b"fmt " and len(body) >= 16:
                        fmt = int.from_bytes(body[0:2], "little")
                        channels = int.from_bytes(body[2:4], "little")
                        rate = int.from_bytes(body[4:8], "little")
                        bits = int.from_bytes(body[14:16], "little")
                        ok = (fmt == 1 and bits in (8, 16, 24, 32)) or (
                            fmt == 3 and bits in (32, 64)
                        )
                        if not ok or not channels or not rate:
                            return None, None
                    elif cid == b"data" and channels and rate and bits:
                        frame = channels * (bits // 8)
                        frames = len(body) // frame if frame else 0
                        if frames == 0:
                            return np.zeros(0), rate
                        raw = body[: frames * frame]
                        if fmt == 3:
                            a = np.frombuffer(
                                raw, dtype="<f4" if bits == 32 else "<f8"
                            ).astype("f8")
                        elif bits == 16:
                            a = np.frombuffer(raw, dtype="<i2").astype("f8")
                        elif bits == 32:
                            a = np.frombuffer(raw, dtype="<i4").astype("f8")
                        elif bits == 24:
                            u = np.frombuffer(raw, dtype=np.uint8).reshape(
                                -1, 3
                            )
                            a4 = np.zeros((u.shape[0], 4), np.uint8)
                            a4[:, 1:] = u
                            a = (
                                a4.view("<i4").reshape(-1).astype("i8") >> 8
                            ).astype("f8")
                        else:
                            a = np.frombuffer(raw, dtype=np.uint8).astype(
                                "f8"
                            ) - 128.0
                        if channels > 1:  # mono mix
                            a = a.reshape(frames, channels).mean(axis=1)
                        return a, rate
                    i += 8 + clen + (clen & 1)
            except Exception:
                pass
            return None, None

        def spectral(b):
            a, rate = wav_samples(b)
            if a is None:
                return (None, None, None, None, None)
            n = a.size
            if n < 2:
                return (n, None, None, None, None)
            neg = np.signbit(a)
            zcr = float(np.mean(neg[1:] != neg[:-1]))
            mag = np.abs(np.fft.rfft(a))
            total = float(mag.sum())
            if total == 0.0:
                return (n, zcr, None, None, None)
            freqs = np.fft.rfftfreq(n, d=1.0 / rate)
            centroid = float((freqs * mag).sum() / total)
            bandwidth = float(
                np.sqrt(((freqs - centroid) ** 2 * mag).sum() / total)
            )
            cum = np.cumsum(mag)
            k = int(np.searchsorted(cum, rolloff_pct * total))
            rolloff = float(freqs[min(k, freqs.size - 1)])
            return (n, zcr, centroid, bandwidth, rolloff)

        for pdf in it:
            feats = [
                (None, None, None, None, None)
                if p is None
                else spectral(bytes(p))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": pd.Series(
                        [f[0] for f in feats], dtype="Int64"
                    ),
                    "zero_crossing_rate": [f[1] for f in feats],
                    "spectral_centroid_hz": [f[2] for f in feats],
                    "spectral_bandwidth_hz": [f[3] for f in feats],
                    "spectral_rolloff_hz": [f[4] for f in feats],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        batches, SPECTRAL_SCHEMA
    )


def frame_sample_plan(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "doc_id",
    n_frames_col: str | None = None,
) -> DataFrame:
    """Frame-sampling *plan* for video payloads: emit (doc, frame_index)
    rows for every ``every_n``-th frame. With ``n_frames_col`` (e.g.
    joined from :func:`video_meta`) the sequence bounds to the clip's
    REAL frame count (NULL counts fall back to the default 100-frame
    assumption; clips with a KNOWN count <= 0 — an AVI ``avih`` can
    legitimately report totalframes=0 — produce no rows rather than a
    negative sequence bound, which would raise at runtime). The explode
    happens JVM-side; frame extraction runs in a downstream mapInPandas
    like :func:`decode_image_meta`."""
    if n_frames_col:
        df = df.where(
            F.col(n_frames_col).isNull() | (F.col(n_frames_col) > 0)
        )
    last = (
        F.coalesce(F.col(n_frames_col).cast("int") - 1, F.lit(99))
        if n_frames_col
        else F.lit(99)
    )
    frames = F.sequence(F.lit(0), last, F.lit(every_n))
    return df.select(F.col(id_col), F.explode(frames).alias("frame_index"))


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def video_meta(
    df: DataFrame, fake: bool = False, parallelism: int | None = None
) -> DataFrame:
    """Video container metadata via Arrow-batched ``mapInPandas``.

    ``fake=False`` parses REAL container headers — MP4/QuickTime
    (walk top-level boxes to ``moov``→``mvhd``, duration =
    duration/timescale; frame count unknown without track parse →
    NULL), AVI (``avih`` main header: µs/frame + total frames), and —
    r13 — animated GIF (block walk counting image descriptors; the
    graphic-control delay sum is the duration, NULL for static GIFs
    with no delays) — spec-level byte arithmetic, no codec. Unknown
    containers yield NULL rows.

    ``fake=True`` derives a deterministic (container, duration, frames)
    from the payload md5 — plumbing-exercisable and oracle-friendly,
    same contract as the other fake decoders.
    """
    df = ensure_parallelism(df, parallelism)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        def mp4_duration(b: bytes):
            # top-level box walk; mvhd v0: timescale@12, duration@16
            i, n = 0, len(b)
            while i + 8 <= n:
                size = int.from_bytes(b[i : i + 4], "big")
                btype = b[i + 4 : i + 8]
                if size < 8:
                    return None
                if btype == b"moov":
                    j, end = i + 8, min(i + size, n)
                    while j + 8 <= end:
                        s2 = int.from_bytes(b[j : j + 4], "big")
                        if s2 < 8:
                            return None
                        if b[j + 4 : j + 8] == b"mvhd" and j + 28 <= end:
                            ver = b[j + 8]
                            if ver == 1 and j + 40 <= end:
                                ts = int.from_bytes(b[j + 28 : j + 32], "big")
                                dur = int.from_bytes(b[j + 32 : j + 40], "big")
                            else:
                                ts = int.from_bytes(b[j + 20 : j + 24], "big")
                                dur = int.from_bytes(b[j + 24 : j + 28], "big")
                            return dur / ts if ts else None
                        j += s2
                i += size
            return None

        def gif_meta(b: bytes):
            # GIF87a/89a block walk (r13): count image descriptors,
            # sum graphic-control delays (centiseconds) — animation
            # metadata without decoding a single pixel
            n = len(b)
            if n < 14:
                return None, None, None
            flags = b[10]
            i = 13
            if flags & 0x80:
                i += 3 * (2 << (flags & 7))
            frames = 0
            delay_cs = 0
            while i < n:
                blk = b[i]
                if blk == 0x3B:
                    break
                if blk == 0x21:  # extension: label + sub-blocks
                    label = b[i + 1] if i + 1 < n else 0
                    i += 2
                    if label == 0xF9 and i + 4 <= n and b[i] >= 4:
                        delay_cs += int.from_bytes(
                            b[i + 2 : i + 4], "little"
                        )
                    while i < n and b[i] != 0:
                        i += 1 + b[i]
                    i += 1
                    continue
                if blk != 0x2C or i + 10 > n:
                    break
                frames += 1
                lflags = b[i + 9]
                i += 10
                if lflags & 0x80:
                    i += 3 * (2 << (lflags & 7))
                i += 1  # LZW minimum code size
                while i < n and b[i] != 0:
                    i += 1 + b[i]
                i += 1
            if frames == 0:
                return None, None, None
            return ("gif", delay_cs / 100.0 if delay_cs else None, frames)

        def real_meta(b: bytes):
            try:
                if len(b) >= 12 and b[4:8] == b"ftyp":
                    d = mp4_duration(b)
                    return ("mp4", d, None) if d is not None else (None, None, None)
                if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    # hdrl LIST → avih: µs/frame @ +0, total frames @ +16
                    k = b.find(b"avih")
                    if k != -1 and k + 28 <= len(b):
                        usec = int.from_bytes(b[k + 8 : k + 12], "little")
                        frames = int.from_bytes(b[k + 24 : k + 28], "little")
                        dur = frames * usec / 1_000_000 if usec else None
                        return ("avi", dur, frames)
                if b[:6] in (b"GIF87a", b"GIF89a"):
                    return gif_meta(b)
            except Exception:
                pass
            return None, None, None

        for pdf in it:
            # a NULL payload stays None: NULL container/duration/frames,
            # never md5(b"")-fabricated metadata (see decode_image_meta)
            payloads = [None if p is None else bytes(p) for p in pdf["payload"]]
            if fake:
                metas = []
                for p in payloads:
                    if p is None:
                        metas.append((None, None, None))
                        continue
                    d = _hl.md5(p).hexdigest()
                    frames = 1 + int(d[:4], 16) % 3600
                    metas.append(("fake", frames / 30.0, frames))
            else:
                metas = [
                    (None, None, None) if p is None else real_meta(p)
                    for p in payloads
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "container": [m[0] for m in metas],
                    "duration_s": [m[1] for m in metas],
                    "n_frames": pd.Series([m[2] for m in metas], dtype="Int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, VIDEO_META_SCHEMA)


FRAME_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
        # r13: presentation time from the container's own clock (AVI
        # avih rate, MP4 stts/mdhd); NULL when the container does not
        # carry timing
        T.StructField("frame_ts_us", T.LongType()),
    ]
)


def extract_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 100,
    parallelism: int | None = None,
) -> DataFrame:
    """REAL video frame extraction (r12): AVI **and MP4** containers.

    AVI: walk the ``movi`` list and take every ``every_n``-th video
    chunk (``##dc`` / ``##db`` — MJPEG frames are whole JPEG payloads,
    raw-DIB frames are BMP-shaped). MP4/QuickTime: walk
    ``moov``→``trak``→``mdia`` to the first ``vide``-handler track and
    resolve sample byte ranges from its sample table
    (``stsz``/``stsc``/``stco``/``co64`` — the ISO 14496-12 chunk/
    sample maps), then take every ``every_n``-th sample. Each emitted
    row carries the frame bytes, header-parsed dims (JPEG SOF scan /
    DIB size; NULL for codec bitstreams like H.264), the frame
    payload's md5, and — r13 — ``frame_ts_us``: presentation time
    from the container's own clock (AVI ``avih`` µs/frame × sequence;
    MP4 ``stts`` decode-delta prefix over the ``mdhd`` timescale;
    NULL when the container carries no timing), so time-based frame
    sampling ("one frame per second") is a plain WHERE clause
    downstream. MJPEG frame payloads feed straight into
    :func:`resize_images` for pixel decode via the r12 JPEG decoder;
    codec frames still support frame-level dedup / sampling / size
    stats by ``frame_md5`` — the fingerprint a video-dedup pass needs
    without ever decoding pixels.

    The physical shape a 100 TB video lake needs: extraction is
    map-only (one ``mapInPandas`` over the payload column, no joins,
    no windows), emits ≤ ``max_frames`` rows per clip, and a non-AVI
    or frameless payload contributes zero rows rather than NULLs (the
    operator EXPLODES clips into frames; the clip-level NULL contract
    belongs to :func:`video_meta`). Corrupt containers never raise.
    """
    # the output schema carries doc_id as long; an id column (the
    # CLI's --id-col accepts any column) that cannot map EXACTLY onto
    # long must fail HERE, loudly — inside the per-clip try/except a
    # failing int(did) would silently drop every frame of every clip
    # (r12 ADVICE). Exact-integral ids (byte/short/int, decimal with
    # scale 0 that fits long) cast at plan time; float/double are
    # rejected too — a NaN would cast to 0 (misattributing frames)
    # and fractional ids would silently merge distinct clips.
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    id_type = df.schema["doc_id"].dataType
    exact_integral = isinstance(
        id_type, (ByteType, ShortType, IntegerType, LongType)
    ) or (
        isinstance(id_type, DecimalType)
        and id_type.scale == 0
        and id_type.precision <= 18
    )
    if not exact_integral:
        raise TypeError(
            f"extract_frames needs an integral doc_id column, got "
            f"{id_type.simpleString()} — cast the id column to long "
            "(e.g. .withColumn('doc_id', col(id_col).cast('long'))) or "
            "pick an integral --id-col"
        )
    if not isinstance(id_type, LongType):
        df = df.withColumn("doc_id", F.col("doc_id").cast("long"))
    df = ensure_parallelism(df, parallelism)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        def jpeg_dims(b: bytes):
            i = 2
            while i + 9 <= len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                m = b[i + 1]
                if m == 0xFF:
                    i += 1
                    continue
                if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
                    i += 2
                    continue
                if m in (0xD9, 0xDA):
                    break
                ln = int.from_bytes(b[i + 2 : i + 4], "big")
                if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                    return (
                        int.from_bytes(b[i + 7 : i + 9], "big"),
                        int.from_bytes(b[i + 5 : i + 7], "big"),
                    )
                if ln < 2:
                    break
                i += 2 + ln
            return None, None

        def frame_dims(fb: bytes):
            if fb[:2] == b"\xff\xd8":
                return jpeg_dims(fb)
            if len(fb) >= 12:  # raw DIB chunk: BITMAPINFOHEADER first
                try:
                    if int.from_bytes(fb[0:4], "little") == 40:
                        return (
                            int.from_bytes(fb[4:8], "little", signed=True),
                            abs(int.from_bytes(fb[8:12], "little", signed=True)),
                        )
                except Exception:
                    pass
            return None, None

        def avi_frames(b: bytes):
            # RIFF('AVI ') → LIST('movi') → ##dc/##db chunks, even-
            # aligned; 'rec ' sub-LISTs (interleaved AVIs) recurse.
            # Yields (frame_bytes, ts_us): frame k shows at
            # k * dwMicroSecPerFrame (avih byte 0) — NULL without a
            # usable avih rate. Only ONE video stream's chunks are
            # sequenced (r13 ADVICE: a multi-stream AVI interleaves
            # ##dc chunks from every stream, so a shared counter
            # misattributes timestamps): the stream id comes from the
            # hdrl strl ordering (first 'vids' stream), else from the
            # first dc/db chunk seen.
            try:
                if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
                    return
                n = len(b)
                uspf = None
                # avih lives in the hdrl LIST, always before movi —
                # bound the search so frame bytes that happen to
                # contain 'avih' can't masquerade as a header
                mv = b.find(b"movi")
                hdrl_end = mv if mv != -1 else n
                j = b.find(b"avih", 0, hdrl_end)
                if 0 <= j and j + 12 <= n:
                    v = int.from_bytes(b[j + 8 : j + 12], "little")
                    uspf = v if v > 0 else None
                # stream number = ordinal of its strl LIST in hdrl;
                # the first strl whose strh has fccType 'vids' is the
                # video stream whose chunks carry the avih frame
                # clock. This walks the ACTUAL chunk structure — a raw
                # byte-find for 'strh' would match stray occurrences
                # inside junk/INFO data and miscount the ordinal
                # (self-review r14).
                def first_vids_stream():
                    i = 12
                    while i + 8 <= n:
                        ckid = b[i : i + 4]
                        sz = int.from_bytes(b[i + 4 : i + 8], "little")
                        ltype = b[i + 8 : i + 12]
                        if ckid == b"LIST" and ltype == b"hdrl":
                            j = i + 12
                            hend = min(i + 8 + sz, n)
                            ordinal = 0
                            while j + 8 <= hend:
                                cid = b[j : j + 4]
                                csz = int.from_bytes(
                                    b[j + 4 : j + 8], "little"
                                )
                                if (
                                    cid == b"LIST"
                                    and b[j + 8 : j + 12] == b"strl"
                                ):
                                    if (
                                        b[j + 12 : j + 16] == b"strh"
                                        and b[j + 20 : j + 24] == b"vids"
                                    ):
                                        return b"%02d" % ordinal
                                    ordinal += 1
                                j += 8 + csz + (csz & 1)
                            return None
                        if ckid == b"LIST" and ltype == b"movi":
                            return None
                        i += 8 + sz + (sz & 1)
                    return None

                vid_id = first_vids_stream()
                seq = 0

                def walk(i, end):
                    nonlocal seq, vid_id
                    while i + 8 <= end:
                        ckid = b[i : i + 4]
                        sz = int.from_bytes(b[i + 4 : i + 8], "little")
                        if ckid == b"LIST":
                            ltype = b[i + 8 : i + 12]
                            if ltype in (b"movi", b"rec "):
                                yield from walk(i + 12, min(i + 8 + sz, end))
                        elif ckid[2:4] in (b"dc", b"db"):
                            if vid_id is None:
                                vid_id = ckid[:2]
                            if ckid[:2] == vid_id:
                                ts = None if uspf is None else seq * uspf
                                seq += 1
                                yield b[i + 8 : i + 8 + sz], ts
                        i += 8 + sz + (sz & 1)

                yield from walk(12, n)
            except Exception:
                return

        def mp4_frames(b: bytes):
            # ISO 14496-12: first 'vide' track's sample table -> byte
            # ranges. Box sizes are uint32 BE (1 -> 64-bit largesize).
            n = len(b)

            def boxes(i, end):
                while i + 8 <= end:
                    sz = int.from_bytes(b[i : i + 4], "big")
                    btype = b[i + 4 : i + 8]
                    body = i + 8
                    if sz == 1:
                        sz = int.from_bytes(b[i + 8 : i + 16], "big")
                        body = i + 16
                    elif sz == 0:
                        sz = end - i
                    if sz < 8:
                        return
                    yield btype, body, min(i + sz, end)
                    i += sz

            def find(i, end, *path):
                for btype, body, bend in boxes(i, end):
                    if btype == path[0]:
                        if len(path) == 1:
                            yield body, bend
                        else:
                            yield from find(body, bend, *path[1:])

            try:
                for moov_s, moov_e in find(0, n, b"moov"):
                    for trak_s, trak_e in find(moov_s, moov_e, b"trak"):
                        for mdia_s, mdia_e in find(trak_s, trak_e, b"mdia"):
                            is_video = any(
                                b[hs_ + 8 : hs_ + 12] == b"vide"
                                for hs_, _ in find(mdia_s, mdia_e, b"hdlr")
                            )
                            if not is_video:
                                continue
                            # a vide track missing its sample table must
                            # not end the walk — later tracks may carry a
                            # valid one (r12 ADVICE: bare return here
                            # yielded zero frames for playable files)
                            stbl = next(
                                find(mdia_s, mdia_e, b"minf", b"stbl"), None
                            )
                            if stbl is None:
                                continue
                            st = {}
                            for btype, body, bend in boxes(*stbl):
                                st[btype] = (body, bend)
                            if b"stsz" not in st or b"stsc" not in st:
                                continue
                            # EVERY declared entry count clamps to what
                            # the box (or for fixed-size samples the
                            # file) can actually hold — a corrupt
                            # 0xFFFFFFFF count must degrade, never spin
                            # for hours or allocate a 34 GB list inside
                            # the per-clip try/except
                            s, send = st[b"stsz"]
                            fixed = int.from_bytes(b[s + 4 : s + 8], "big")
                            cnt = int.from_bytes(b[s + 8 : s + 12], "big")
                            # clamp to what the box/file can hold AND to
                            # the samples the caller can ever emit
                            # (every_n * max_frames) — a corrupt
                            # fixed=1 count in a large payload would
                            # otherwise still build a multi-GB size
                            # list the consumer never reads past
                            cnt = min(
                                cnt,
                                n // fixed
                                if fixed
                                else max(0, (send - s - 12) // 4),
                                every_n * max_frames,
                            )
                            sizes = (
                                [fixed] * cnt
                                if fixed
                                else [
                                    int.from_bytes(
                                        b[s + 12 + 4 * k : s + 16 + 4 * k],
                                        "big",
                                    )
                                    for k in range(cnt)
                                ]
                            )
                            if b"stco" in st:
                                s, send = st[b"stco"]
                                nch = min(
                                    int.from_bytes(b[s + 4 : s + 8], "big"),
                                    max(0, (send - s - 8) // 4),
                                )
                                offs = [
                                    int.from_bytes(
                                        b[s + 8 + 4 * k : s + 12 + 4 * k],
                                        "big",
                                    )
                                    for k in range(nch)
                                ]
                            elif b"co64" in st:
                                s, send = st[b"co64"]
                                nch = min(
                                    int.from_bytes(b[s + 4 : s + 8], "big"),
                                    max(0, (send - s - 8) // 8),
                                )
                                offs = [
                                    int.from_bytes(
                                        b[s + 8 + 8 * k : s + 16 + 8 * k],
                                        "big",
                                    )
                                    for k in range(nch)
                                ]
                            else:
                                continue  # no chunk offsets: next trak
                            # decode times: mdhd timescale + stts
                            # (count, delta) runs -> per-sample ts_us;
                            # None when either box is absent/zero
                            tscale = None
                            for ms, _me in find(mdia_s, mdia_e, b"mdhd"):
                                ver = b[ms] if ms < n else 0
                                off = 20 if ver == 1 else 12
                                v = int.from_bytes(
                                    b[ms + off : ms + off + 4], "big"
                                )
                                tscale = v if v > 0 else None
                                break
                            ts_list = None
                            if tscale and b"stts" in st:
                                s, send = st[b"stts"]
                                # clamp the declared entry count to the
                                # box's actual bytes — a corrupt count
                                # (e.g. 0xFFFFFFFF on a truncated box)
                                # must degrade, not spin for hours
                                nst = min(
                                    int.from_bytes(b[s + 4 : s + 8], "big"),
                                    max(0, (send - s - 8) // 8),
                                )
                                ts_list, tacc = [], 0
                                for k in range(nst):
                                    c_ = int.from_bytes(
                                        b[s + 8 + 8 * k : s + 12 + 8 * k],
                                        "big",
                                    )
                                    d_ = int.from_bytes(
                                        b[s + 12 + 8 * k : s + 16 + 8 * k],
                                        "big",
                                    )
                                    for _ in range(c_):
                                        if len(ts_list) >= len(sizes):
                                            break
                                        ts_list.append(tacc)
                                        tacc += d_
                                    if len(ts_list) >= len(sizes):
                                        break
                                if ts_list and b"ctts" in st:
                                    # composition offsets: PTS = DTS +
                                    # offset (v0 unsigned, v1 signed) —
                                    # without this, B-frame files would
                                    # carry decode order, not the
                                    # presentation time the column
                                    # documents
                                    s2, c_end = st[b"ctts"]
                                    signed = b[s2 : s2 + 1] == b"\x01"
                                    ncr = min(
                                        int.from_bytes(
                                            b[s2 + 4 : s2 + 8], "big"
                                        ),
                                        max(0, (c_end - s2 - 8) // 8),
                                    )
                                    si2 = 0
                                    for k in range(ncr):
                                        c_ = int.from_bytes(
                                            b[s2 + 8 + 8 * k : s2 + 12 + 8 * k],
                                            "big",
                                        )
                                        o_ = int.from_bytes(
                                            b[s2 + 12 + 8 * k : s2 + 16 + 8 * k],
                                            "big",
                                            signed=signed,
                                        )
                                        for _ in range(c_):
                                            if si2 >= len(ts_list):
                                                break
                                            ts_list[si2] += o_
                                            si2 += 1
                                        if si2 >= len(ts_list):
                                            break
                                # scale to us; absurd tick values from
                                # corrupt deltas (beyond int64 after
                                # the divide) become NULL instead of
                                # overflowing the Int64 series build,
                                # which runs OUTSIDE the per-clip
                                # try/except and would kill the batch
                                _I64 = 1 << 63
                                ts_list = (
                                    [
                                        v
                                        if -_I64 <= (v := t * 1_000_000 // tscale)
                                        < _I64
                                        else None
                                        for t in ts_list
                                    ]
                                    if ts_list
                                    else None
                                )
                            s, send = st[b"stsc"]
                            nsc = min(
                                int.from_bytes(b[s + 4 : s + 8], "big"),
                                max(0, (send - s - 8) // 12),
                            )
                            runs = [
                                (
                                    int.from_bytes(
                                        b[s + 8 + 12 * k : s + 12 + 12 * k],
                                        "big",
                                    ),
                                    int.from_bytes(
                                        b[s + 12 + 12 * k : s + 16 + 12 * k],
                                        "big",
                                    ),
                                )
                                for k in range(nsc)
                            ]
                            # expand sample-to-chunk runs over chunks
                            si = 0
                            yielded = 0
                            exhausted = False
                            for ci in range(len(offs)):
                                spc = 0
                                for first, cnt_ in runs:
                                    if first <= ci + 1:
                                        spc = cnt_
                                    else:
                                        break
                                pos = offs[ci]
                                for _ in range(spc):
                                    if si >= len(sizes):
                                        exhausted = True
                                        break
                                    yield b[pos : pos + sizes[si]], (
                                        ts_list[si]
                                        if ts_list and si < len(ts_list)
                                        else None
                                    )
                                    yielded += 1
                                    pos += sizes[si]
                                    si += 1
                                if exhausted:
                                    break
                            if yielded:
                                # first video track that actually
                                # yields samples ends the walk; an
                                # empty sample table falls through to
                                # the next trak
                                return
            except Exception:
                return

        for pdf in it:
            ids, fidx, pays, ws, hs, md5s, tss = [], [], [], [], [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    continue
                try:
                    raw = bytes(p)
                    src = (
                        avi_frames(raw)
                        if raw[:4] == b"RIFF"
                        else mp4_frames(raw)
                    )
                    for k, (fb, ts) in enumerate(src):
                        if k // every_n >= max_frames:
                            break  # don't drain a corrupt-huge table
                        if k % every_n:
                            continue
                        w, h = frame_dims(fb)
                        ids.append(int(did))
                        fidx.append(k)
                        pays.append(fb)
                        ws.append(w)
                        hs.append(h)
                        md5s.append(_hl.md5(fb).hexdigest())
                        tss.append(ts)
                except Exception:
                    continue  # one corrupt clip must not kill the batch
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_index": pd.Series(fidx, dtype="int32"),
                    "frame_payload": pays,
                    "width": pd.Series(ws, dtype="Int32"),
                    "height": pd.Series(hs, dtype="Int32"),
                    "frame_md5": md5s,
                    "frame_ts_us": pd.Series(tss, dtype="Int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        batches, FRAME_EXTRACT_SCHEMA
    )
