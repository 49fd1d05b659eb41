"""Pure-stdlib/numpy media codecs for the multimodal pipeline.

The container has no Pillow/PyAV/torchaudio, but several real formats
are decodable with nothing beyond the standard library and numpy:

- WAV  (PCM 8/16/24/32-bit)        — stdlib ``wave`` + numpy
- BMP  (uncompressed 24/32-bit)    — header parse + numpy
- PPM/PGM (binary P6/P5)           — header parse + numpy
- PNG  (8-bit gray/RGB/GA/RGBA, non-interlaced) — stdlib ``zlib`` +
  per-row unfiltering (None/Sub/Up/Average/Paeth)

These make ``multimodal.decode_real`` genuinely real for those mimes;
JPEG and video remain injection points (entropy coding / container
demux are far outside stdlib reach).

Matching ENCODERS are provided so tests synthesize real files and
round-trip them bit-exactly — including PNG's non-trivial filter types.

Everything here runs executor-side inside Arrow-batched mapInPandas
(see multimodal.extract_features); nothing touches the driver.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# WAV


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV -> (float32 samples in [-1, 1] shaped (n, channels), rate)."""
    with wave.open(io.BytesIO(content), "rb") as w:
        nch, sw, rate, nframes = w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
        raw = w.readframes(nframes)
    if sw == 1:  # unsigned 8-bit
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 3:  # 24-bit: widen to 32 via zero-padded low byte
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        widened = np.zeros((b.shape[0], 4), dtype=np.uint8)
        widened[:, 1:] = b
        x = widened.view("<i4").ravel().astype(np.float32) / 2147483648.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return x.reshape(-1, nch), rate


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """float samples in [-1, 1] (n,) or (n, ch) -> 16-bit PCM WAV bytes."""
    arr = np.atleast_2d(np.asarray(samples, dtype=np.float64))
    if arr.shape[0] == 1 and arr.ndim == 2 and np.asarray(samples).ndim == 1:
        arr = arr.T
    pcm = np.clip(arr * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# BMP (uncompressed BI_RGB, 24/32 bpp)


def decode_bmp(content: bytes) -> np.ndarray:
    """BMP -> uint8 array (h, w, 3) RGB."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP file")
    (data_off,) = struct.unpack_from("<I", content, 10)
    width, height = struct.unpack_from("<ii", content, 18)
    (bpp,) = struct.unpack_from("<H", content, 28)
    (compression,) = struct.unpack_from("<I", content, 30)
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    nch = bpp // 8
    stride = (width * nch + 3) & ~3
    rows = np.frombuffer(
        content, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)[:, : width * nch].reshape(height, width, nch)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, 2::-1]  # BGR(A) -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB -> 24-bit bottom-up BMP bytes."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    bgr = np.ascontiguousarray(arr[::-1, :, ::-1])  # bottom-up, RGB->BGR
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    pixels = padded.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


# ---------------------------------------------------------------------------
# PPM / PGM (binary)


def decode_ppm(content: bytes) -> np.ndarray:
    """P6 -> (h, w, 3) RGB uint8; P5 -> (h, w) gray uint8."""
    magic = content[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM file")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while content[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    nch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(content, dtype=np.uint8, count=w * h * nch, offset=pos)
    return arr.reshape((h, w, 3) if nch == 3 else (h, w))


def encode_ppm(arr: np.ndarray) -> bytes:
    if arr.ndim == 3:
        return b"P6\n%d %d\n255\n" % (arr.shape[1], arr.shape[0]) + arr.astype(np.uint8).tobytes()
    return b"P5\n%d %d\n255\n" % (arr.shape[1], arr.shape[0]) + arr.astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# PNG (8-bit, non-interlaced; color types 0/2/4/6)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> np.ndarray:
    """PNG -> uint8 (h, w) or (h, w, ch). 8-bit depth, interlace 0 only."""
    if content[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG file")
    pos, idat, ihdr = len(_PNG_SIG), [], None
    while pos < len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth}, color={color}, interlace={interlace})")
    nch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).copy()
        if ftype == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (int(line[i]) + int(line[i - nch])) & 0xFF
        elif ftype == 2:  # Up
            line = (line.astype(np.int32) + prev) % 256
            line = line.astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = int(line[i - nch]) if i >= nch else 0
                line[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = int(line[i - nch]) if i >= nch else 0
                ul = int(prev[i - nch]) if i >= nch else 0
                line[i] = (int(line[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape((h, w) if nch == 1 else (h, w, nch))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 (h, w[, ch]) -> PNG bytes, every row filtered with
    ``filter_type`` (0..4) — exercises all unfilter paths in decode."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color, nch = 0, 1
        flat = arr[:, :, None]
    else:
        nch = arr.shape[2]
        color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
        flat = arr
    h, w = arr.shape[:2]
    stride = w * nch
    rows = flat.reshape(h, stride).astype(np.int32)
    scan = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]])
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]])
            filt = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]])
            ul = np.concatenate([np.zeros(nch, np.int32), prev[:-nch]])
            filt = cur.copy()
            for i in range(stride):
                filt[i] = cur[i] - _paeth(int(left[i]), int(prev[i]), int(ul[i]))
        else:
            raise ValueError(f"bad filter type {filter_type}")
        scan.append(filter_type)
        scan.extend((filt % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Feature extraction (decoded media -> fixed-size float vectors)


def image_features(arr: np.ndarray, grid: int = 8) -> list[float]:
    """Grayscale ``grid``x``grid`` block-mean thumbnail in [0, 1] —
    the classic perceptual-hash front end (and exactly what an
    embedding model's preprocessing needs from the plumbing)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a[:, :, : min(3, a.shape[2])].mean(axis=2)  # drop alpha, gray
    h, w = a.shape
    feats = []
    for i in range(grid):
        r0, r1 = (i * h) // grid, max((i * h) // grid + 1, ((i + 1) * h) // grid)
        for j in range(grid):
            c0, c1 = (j * w) // grid, max((j * w) // grid + 1, ((j + 1) * w) // grid)
            feats.append(float(a[r0:r1, c0:c1].mean() / 255.0))
    return feats


def audio_features(samples: np.ndarray, rate: int) -> list[float]:
    """8 scalar descriptors: duration, rms, zero-cross rate, spectral
    centroid & 85% rolloff (Hz), peak, mean |x|, channel count."""
    x = np.asarray(samples, dtype=np.float64)
    nch = 1 if x.ndim == 1 else x.shape[1]
    mono = x if x.ndim == 1 else x.mean(axis=1)
    n = len(mono)
    if n == 0:
        return [0.0] * 8
    duration = n / float(rate)
    rms = float(np.sqrt(np.mean(mono**2)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
    spec = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    power = spec.sum()
    centroid = float((freqs * spec).sum() / power) if power > 0 else 0.0
    if power > 0:
        rolloff = float(freqs[np.searchsorted(np.cumsum(spec), 0.85 * power)])
    else:
        rolloff = 0.0
    peak = float(np.abs(mono).max())
    return [duration, rms, zcr, centroid, rolloff, peak, float(np.abs(mono).mean()), float(nch)]


_IMAGE_DECODERS = {
    "image/bmp": decode_bmp,
    "image/png": decode_png,
    "image/x-portable-pixmap": decode_ppm,
    "image/x-portable-graymap": decode_ppm,
}


def decode_any(content: bytes, mime: str):
    """Decode supported mimes to arrays; raise NotImplementedError for
    formats that genuinely need an injected codec (JPEG, video)."""
    if mime in _IMAGE_DECODERS:
        return _IMAGE_DECODERS[mime](bytes(content))
    if mime in ("audio/wav", "audio/x-wav"):
        return decode_wav(bytes(content))
    raise NotImplementedError(
        f"no stdlib codec for {mime}; inject one (Pillow/PyAV/torchaudio) "
        "via extract_features(codec=...)"
    )


def stdlib_codec(content: bytes, mime: str) -> list[float]:
    """Real codec for multimodal.extract_features: decode + featurize."""
    decoded = decode_any(content, mime)
    if isinstance(decoded, tuple):
        return audio_features(*decoded)
    return image_features(decoded)


# ---------------------------------------------------------------------------
# Image resize + video-style frame packs (charter: decode / feature-
# extract / RESIZE / FRAME-SAMPLE as the multimodal preprocessing set)


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor image resize (the embedding-model preprocessing
    step), pure integer index arithmetic — deterministic on any engine,
    no interpolation-library variance. Works on HxW and HxWxC arrays."""
    a = np.asarray(arr)
    h, w = a.shape[0], a.shape[1]
    if h == 0 or w == 0:
        raise ValueError("cannot resize an empty image")
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return a[rows][:, cols]


_FPK_MAGIC = b"FPK1"


def encode_framepack(frames: list[np.ndarray]) -> bytes:
    """Pack frames into a length-prefixed BMP container — a minimal but
    REAL multi-frame video stand-in (this environment has no ffmpeg/
    PyAV; the container lets frame-sampling be exercised end-to-end
    with real bytes instead of a stub). Layout:
    magic 'FPK1' | uint32 n_frames | n x (uint32 len | BMP bytes)."""
    import struct

    out = [_FPK_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        b = encode_bmp(f)
        out.append(struct.pack("<I", len(b)))
        out.append(b)
    return b"".join(out)


def decode_framepack(content: bytes) -> list[np.ndarray]:
    """Inverse of :func:`encode_framepack` (bit-exact round-trip)."""
    import struct

    b = bytes(content)
    if b[:4] != _FPK_MAGIC:
        raise ValueError("not a framepack payload")
    (n,) = struct.unpack_from("<I", b, 4)
    off = 8
    frames = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", b, off)
        off += 4
        frames.append(decode_bmp(b[off : off + ln]))
        off += ln
    return frames


def sample_frame_indices(n_frames: int, k: int) -> list[int]:
    """Uniform temporal sampling: k evenly-spaced frame indices
    (first and last always included when k >= 2) — the standard
    video-preprocessing policy, pure integer arithmetic."""
    if n_frames <= 0 or k <= 0:
        return []
    if k == 1:
        return [n_frames // 2]
    k = min(k, n_frames)
    return [(i * (n_frames - 1)) // (k - 1) for i in range(k)]


def video_features(content: bytes, k: int = 4, thumb: int = 4) -> list[float]:
    """Frame-sample + resize + featurize a framepack 'video': decode all
    frames, keep ``k`` uniformly sampled ones, nearest-resize each to
    ``thumb`` x ``thumb`` gray, return the concatenated block means —
    the decode->sample->resize->embed front end of a video pipeline."""
    frames = decode_framepack(content)
    idx = sample_frame_indices(len(frames), k)
    feats: list[float] = []
    for i in idx:
        a = np.asarray(frames[i], dtype=np.float64)
        if a.ndim == 3:
            a = a[:, :, : min(3, a.shape[2])].mean(axis=2)
        small = resize_nearest(a, thumb, thumb)
        feats.extend((small / 255.0).reshape(-1).tolist())
    return feats


def image_ahash(content: bytes, mime: str, grid: int = 8) -> int:
    """Perceptual average-hash (aHash) of an encoded image: decode,
    nearest-neighbor downsample to grid x grid, integer grayscale
    (channel sum), threshold at the integer mean -> 64 bits.

    ALL arithmetic is integer (channel sums, floor-div mean, strict >
    compare), so the hash is bit-identical on any engine/platform —
    and invariant to small global brightness shifts away from the
    clip boundary, the property that makes it a near-dup key (pair
    via multimodal.phash_near_pairs, whose pigeonhole Hamming banding
    is dedup._hamming_bands, shared with dedup.simhash_near_pairs).
    Returned as a SIGNED 64-bit value so it fits Spark's LongType.
    """
    arr = decode_any(content, mime)
    if arr is None or getattr(arr, "ndim", 0) < 2:
        raise ValueError(f"image_ahash: cannot decode mime {mime!r}")
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    small = resize_nearest(a, grid, grid).astype(np.int64).sum(axis=2)
    mean = int(small.sum()) // (grid * grid)
    h = 0
    for i, v in enumerate(int(x) for x in small.flatten()):
        if v > mean:
            h |= 1 << i
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def ahash64(content: bytes, mime: str) -> int:
    """64-bit average perceptual hash — :func:`image_ahash` at its
    default 8x8 grid. ONE bit contract for the whole repo (this used
    to carry a subtly different variant — >= threshold, pre-resize
    grayscale, no decode guard — two hash dialects for the same name
    is how cross-table joins silently miss): resize-then-channel-sum
    grayscale, strict > integer-mean threshold, bit i = row-major cell
    i, two's-complement signed int64; undecodable content raises
    ValueError (never an opaque numpy error downstream).
    """
    return image_ahash(content, mime, grid=8)
