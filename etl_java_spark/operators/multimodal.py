"""Multimodal (image/audio/video) column plumbing (charter §2B).

Media travels as an opaque ``binary`` column plus a typed metadata struct:

    MEDIA_SCHEMA = struct<uri string, mime string, n_bytes bigint,
                          meta map<string,string>>

The Spark-side plumbing — schema, binaryFile reads, Arrow-batched
mapInPandas feature extraction, partition sizing — is real and tested.
The codec is a pluggable function. WAV/BMP/PPM/PNG decode FOR REAL via
the pure-stdlib/numpy codecs in operators/codecs.py (``decode_real`` /
``codecs.stdlib_codec``); JPEG and video need an injected library
(Pillow/PyAV) and raise NotImplementedError until one is supplied. The
default codec for ``extract_features`` remains the deterministic fake —
mime-agnostic, so it exercises the distributed path on any bytes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _hamming_bands, _pair_join

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Ingest raw media files: path/modificationTime/length/content(binary)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def attach_media_meta(
    df: DataFrame, content_col: str = "content", uri_col: str = "path", mime_col: str | None = None
) -> DataFrame:
    """Wrap a binary column with the typed media metadata struct.

    Uses an existing ``mime_col`` when present, else sniffs from the
    uri extension.
    """
    if mime_col is not None:
        mime = F.col(mime_col)
    else:
        mime = (
            F.when(F.col(uri_col).endswith(".jpg") | F.col(uri_col).endswith(".jpeg"), "image/jpeg")
            .when(F.col(uri_col).endswith(".png"), "image/png")
            .when(F.col(uri_col).endswith(".bmp"), "image/bmp")
            .when(F.col(uri_col).endswith(".ppm"), "image/x-portable-pixmap")
            .when(F.col(uri_col).endswith(".pgm"), "image/x-portable-graymap")
            .when(F.col(uri_col).endswith(".wav"), "audio/wav")
            .when(F.col(uri_col).endswith(".mp4"), "video/mp4")
            .otherwise("application/octet-stream")
        )
    return df.withColumn(
        "media",
        F.struct(
            F.col(uri_col).alias("uri"),
            mime.alias("mime"),
            F.length(F.col(content_col)).cast("long").alias("n_bytes"),
            F.create_map().cast(MEDIA_META_TYPE["meta"].dataType).alias("meta"),
        ),
    )


def decode_real(content: bytes, mime: str):
    """Real decode: WAV/BMP/PPM/PNG are decoded for real with the
    pure-stdlib/numpy codecs in operators/codecs.py; JPEG and video
    still raise NotImplementedError until a codec (Pillow/PyAV) is
    injected — those formats are not stdlib-decodable."""
    from .codecs import decode_any

    return decode_any(content, mime)


def _fake_codec(content: bytes, mime: str) -> list[float]:
    """Deterministic stand-in features: 8 floats derived from a rolling
    byte hash. CLEARLY FAKE — exercises the full distributed path
    (Arrow batches, schema, partitioning) without real codecs."""
    h = 1469598103934665603
    feats = [0.0] * 8
    for i, byte in enumerate(content[:4096]):
        h = ((h ^ byte) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        feats[i % 8] += ((h >> 16) & 0xFFFF) / 65535.0
    n = max(1, min(len(content), 4096) // 8)
    return [f / n for f in feats]


def extract_features(
    df: DataFrame,
    content_col: str = "content",
    media_col: str = "media",
    codec: Callable[[bytes, str], list[float]] = _fake_codec,
) -> DataFrame:
    """Arrow-batched feature extraction over binary media via mapInPandas.

    mapInPandas streams partition-sized record batches through Python —
    the right shape for heavy per-item decode at scale (no per-row UDF
    overhead, bounded memory via batch iteration). Batch size is the
    session-level ``spark.sql.execution.arrow.maxRecordsPerBatch``
    knob, not a per-call parameter. Partitioning advice: media rows
    are large; repartition so partitions stay < ~256 MB.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "uri": [m["uri"] for m in pdf[media_col]],
                "mime": [m["mime"] for m in pdf[media_col]],
                "feature": [
                    codec(bytes(c), m["mime"]) for c, m in zip(pdf[content_col], pdf[media_col])
                ],
            }
            yield pd.DataFrame(out)

    return df.select(content_col, media_col).mapInPandas(_extract, FEATURE_SCHEMA)


# Synthesis is split into pure-Python row generators plus thin Spark
# wrappers: the q55/q105/q138 oracles replay the SAME generator
# sequentially to compute their expected outputs (the media inputs are
# constants — independent of sf_dir — so the replayed values are
# literal-stable across fixture regenerations).


def media_rows(n: int = 64, seed: int = 42) -> list[tuple[str, str, bytearray]]:
    """Deterministic fake media rows (path, mime, content)."""
    rows = []
    for i in range(n):
        content = bytes(((i * 131 + j * 17 + seed) % 256) for j in range(256 + i))
        mime = ["image/jpeg", "image/png", "audio/wav", "video/mp4"][i % 4]
        rows.append((f"mem://media/{i}", mime, bytearray(content)))
    return rows


def synthesize_media_table(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (no real files needed)."""
    df = spark.createDataFrame(media_rows(n, seed), "path string, mime string, content binary")
    return attach_media_meta(df, mime_col="mime")


def real_media_rows(n: int = 32, seed: int = 42) -> list[tuple[str, str, bytearray]]:
    """Deterministic REAL media rows: valid BMP/PNG/PPM/WAV bytes
    (operators/codecs.py encoders) — every row decodes via the stdlib
    codec path, no external libs needed."""
    import numpy as np

    from . import codecs as C

    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed + i)
        kind = i % 4
        if kind == 0:
            img = rng.randint(0, 256, size=(8 + i % 5, 11 + i % 7, 3), dtype=np.uint8)
            rows.append((f"mem://media/{i}.bmp", "image/bmp", bytearray(C.encode_bmp(img))))
        elif kind == 1:
            img = rng.randint(0, 256, size=(6 + i % 5, 9 + i % 7, 3), dtype=np.uint8)
            rows.append(
                (f"mem://media/{i}.png", "image/png", bytearray(C.encode_png(img, filter_type=i % 5)))
            )
        elif kind == 2:
            img = rng.randint(0, 256, size=(7 + i % 5, 10 + i % 7, 3), dtype=np.uint8)
            rows.append(
                (f"mem://media/{i}.ppm", "image/x-portable-pixmap", bytearray(C.encode_ppm(img)))
            )
        else:
            t = np.arange(800 + 50 * (i % 4)) / 8000.0
            tone = 0.5 * np.sin(2 * np.pi * (220.0 + 20 * i) * t)
            rows.append((f"mem://media/{i}.wav", "audio/wav", bytearray(C.encode_wav(tone))))
    return rows


def synthesize_real_media_table(spark: SparkSession, n: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic table of REAL media bytes — see real_media_rows."""
    df = spark.createDataFrame(
        real_media_rows(n, seed), "path string, mime string, content binary"
    )
    return attach_media_meta(df, mime_col="mime")


def video_rows(n: int = 12, seed: int = 7) -> list[tuple[str, str, bytearray]]:
    """Deterministic framepack 'video' rows (real multi-frame BMP
    containers, operators/codecs.py)."""
    import numpy as np

    from . import codecs as C

    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed + i)
        n_frames = 3 + i % 6
        frames = [
            rng.randint(0, 256, size=(6 + i % 3, 8 + i % 4, 3), dtype=np.uint8)
            for _ in range(n_frames)
        ]
        rows.append(
            (
                f"mem://video/{i}.fpk",
                "video/x-framepack",
                bytearray(C.encode_framepack(frames)),
            )
        )
    return rows


def synthesize_video_table(spark: SparkSession, n: int = 12, seed: int = 7) -> DataFrame:
    """Deterministic table of framepack 'videos' — exercises the decode
    -> frame-sample -> resize -> featurize path with real bytes."""
    df = spark.createDataFrame(video_rows(n, seed), "path string, mime string, content binary")
    return attach_media_meta(df, mime_col="mime")


def image_pair_rows(n: int = 24, seed: int = 11) -> list[tuple[str, str, bytearray]]:
    """Deterministic BMP rows for perceptual-dedup fixtures: n random
    images (pixel values capped at 250) plus, for each, a +2-brightness
    twin — visually identical, byte-distinct, so exact/content-hash
    dedup misses every pair while aHash catches them all (the +2 shift
    moves every pixel and the mean together; the 250 cap keeps the
    shift clip-free)."""
    import numpy as np

    from . import codecs as C

    rows = []
    for i in range(n):
        rng = np.random.RandomState(seed + i)
        img = rng.randint(0, 251, size=(12 + i % 5, 16 + i % 7, 3)).astype(np.uint8)
        rows.append((f"mem://img/{i:03d}.bmp", "image/bmp", bytearray(C.encode_bmp(img))))
        twin = (img.astype(np.int64) + 2).astype(np.uint8)
        rows.append(
            (f"mem://img/{i:03d}_twin.bmp", "image/bmp", bytearray(C.encode_bmp(twin)))
        )
    return rows


def synthesize_image_pairs_table(
    spark: SparkSession, n: int = 24, seed: int = 11
) -> DataFrame:
    df = spark.createDataFrame(
        image_pair_rows(n, seed), "path string, mime string, content binary"
    )
    return attach_media_meta(df, mime_col="mime")


def perceptual_hashes(media: DataFrame, hash_fn=None) -> DataFrame:
    """(path, mime, phash) via Arrow-batched mapInPandas — the decode +
    hash runs per BATCH of binary rows, never per-row Python dispatch.
    ``hash_fn(content, mime) -> int`` defaults to codecs.image_ahash."""
    import pandas as pd

    from .codecs import image_ahash

    fn = hash_fn or image_ahash

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "mime": pdf["mime"],
                    "phash": [
                        fn(bytes(c), m) for c, m in zip(pdf["content"], pdf["mime"])
                    ],
                }
            )

    return media.mapInPandas(batches, "path string, mime string, phash long")


# ---------------------------------------------------------------------------
# Audio activity segmentation (energy-based VAD-lite)


def audio_burst_rows(n: int = 24, seed: int = 13) -> list[tuple[str, str, bytearray]]:
    """Deterministic WAVs with tone BURSTS separated by silence — the
    segmentation fixture: file i carries (i % 3) + 1 bursts of
    400 + 40*i samples at amplitude 0.5, with 480-sample silences."""
    import numpy as np

    from . import codecs as C

    rows = []
    for i in range(n):
        bursts = (i % 3) + 1
        blen = 400 + 40 * i
        pieces = [np.zeros(480)]
        for b in range(bursts):
            t = np.arange(blen) / 8000.0
            pieces.append(0.5 * np.sin(2 * np.pi * (200.0 + 15 * (seed + i + b)) * t))
            pieces.append(np.zeros(480))
        samples = np.concatenate(pieces)
        rows.append((f"mem://audio/{i}.wav", "audio/wav", bytearray(C.encode_wav(samples))))
    return rows


def synthesize_audio_table(spark: SparkSession, n: int = 24, seed: int = 13) -> DataFrame:
    """Deterministic table of burst WAVs — see audio_burst_rows."""
    df = spark.createDataFrame(
        audio_burst_rows(n, seed), "path string, mime string, content binary"
    )
    return attach_media_meta(df, mime_col="mime")


def pcm16_energy_profile(content: bytes, frame: int = 160) -> tuple[int, int, int, int, int]:
    """Pure-Python/NumPy integer energy segmentation of one 16-bit PCM
    mono WAV: per-frame energy = sum of squared int16 samples (exact
    int64), a frame is ACTIVE iff 2 * energy * n_frames > total_energy
    (i.e. above half the mean frame energy — a scale-free threshold),
    and segments are runs of consecutive active frames. The trailing
    partial frame is dropped (deterministic framing). ALL integer
    arithmetic -> the q55/q105 oracle pattern replays it bit-for-bit.

    Returns (n_frames, n_active, n_segments, longest_run, total_energy).
    """
    import io as _io
    import wave as _wave

    import numpy as np

    with _wave.open(_io.BytesIO(content), "rb") as w:
        assert w.getsampwidth() == 2 and w.getnchannels() == 1
        raw = w.readframes(w.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    n_frames = len(x) // frame
    if n_frames == 0:
        return (0, 0, 0, 0, 0)
    sq = x[: n_frames * frame] ** 2
    energies = sq.reshape(n_frames, frame).sum(axis=1)
    total = int(energies.sum())
    active = (2 * energies * n_frames) > total
    n_active = int(active.sum())
    n_segments = longest = run = 0
    for a in active:
        if a:
            run += 1
            if run == 1:
                n_segments += 1
            longest = max(longest, run)
        else:
            run = 0
    return (n_frames, n_active, n_segments, longest, total)


AUDIO_SEGMENT_SCHEMA = (
    "uri string, n_frames long, n_active long, n_segments long, "
    "longest_run long, total_energy long"
)


def audio_energy_segments(
    df: DataFrame,
    content_col: str = "content",
    media_col: str = "media",
    frame: int = 160,
) -> DataFrame:
    """Energy-based activity segmentation over a binary WAV column —
    the VAD-shaped preprocessing step of every speech-data pipeline
    (segment, then transcribe/embed only active spans). Arrow-batched
    mapInPandas (the multimodal plumbing contract: schema, batching,
    partition advice all identical to extract_features); per-file
    arithmetic is exact integers, so the sequential oracle replay is
    bit-equal.
    """

    def _seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for c, m in zip(pdf[content_col], pdf[media_col]):
                nf, na, ns, lg, te = pcm16_energy_profile(bytes(c), frame)
                rows.append((m["uri"], nf, na, ns, lg, te))
            yield pd.DataFrame(
                rows,
                columns=[
                    "uri", "n_frames", "n_active", "n_segments",
                    "longest_run", "total_energy",
                ],
            )

    return df.select(content_col, media_col).mapInPandas(_seg, AUDIO_SEGMENT_SCHEMA)


def near_dup_image_rows(
    n_base: int = 8, seed: int = 42
) -> list[tuple[str, str, bytearray]]:
    """Deterministic BMP set with PLANTED near-duplicates: ``n_base``
    distinct 16x16 gradient images, each with one copy whose corner
    pixel block is perturbed (same perceptual content, different
    bytes) — the fixture shape perceptual-hash dedup exists to catch.
    """
    import numpy as np

    from . import codecs as C

    rows = []
    for i in range(n_base):
        rng = (seed * 1000003 + i * 7919) % 251
        base = np.fromfunction(
            lambda y, x, c: (x * 13 + y * 29 + c * 47 + rng) % 256,
            (16, 16, 3),
        ).astype(np.uint8)
        rows.append((f"img_{i}", "image/bmp", bytearray(C.encode_bmp(base))))
        pert = base.copy()
        pert[:2, :2, :] = 255 - pert[:2, :2, :]
        rows.append(
            (f"img_{i}_copy", "image/bmp", bytearray(C.encode_bmp(pert)))
        )
    return rows


def perceptual_hash_table(
    df: DataFrame,
    content_col: str = "content",
    mime_col: str = "mime",
    path_col: str = "path",
) -> DataFrame:
    """(path, phash) via Arrow-batched mapInPandas over binary media —
    the hash stage of perceptual image dedup (codecs.ahash64; all
    integer, engine-stable). Arrow batch sizing is the session-level
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` knob (a per-call
    parameter here would imply batch control mapInPandas doesn't
    provide). The downstream pairing is pure JVM:
    :func:`phash_near_pairs`."""
    import pandas as pd

    from .codecs import ahash64

    schema = "path string, phash long"

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "path": b[path_col],
                    "phash": [
                        ahash64(bytes(c), m)
                        for c, m in zip(b[content_col], b[mime_col])
                    ],
                }
            )

    return df.select(path_col, content_col, mime_col).mapInPandas(
        _hash, schema
    )


def phash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "path",
    hash_col: str = "phash",
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash hamming distance,
    banded so no all-pairs join ever runs: the 64-bit hash splits into
    ``max_hamming + 1`` disjoint bit-bands covering all 64 bits
    (``dedup._hamming_bands``, shared with ``simhash_near_pairs``) — two
    hashes within ``max_hamming`` MUST agree exactly on at least one
    band (pigeonhole), so the only join is a band-key equi-join,
    verified by bit_count(xor). Returns (id_a, id_b, hamming) with
    id_a < id_b, deduped across bands.
    """
    banded = _hamming_bands(
        hashes.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")),
        "__h", max_hamming,
    )
    ham = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return (
        _pair_join(banded, banded, "__id", ["__band", "__key"], ["__h"])
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
