"""Multimodal (image/audio/video) column plumbing.

Media travels as opaque ``binary`` columns with typed metadata — the only
sane representation at 100 TB: Spark shuffles/spills binary efficiently,
parquet stores it chunked, and partition pruning works on the metadata
columns while the bytes stay untouched until a mapInPandas stage needs them.

Decode kernels, by honesty level:

* **Real, dependency-free**: WAV PCM audio (stdlib ``wave``;
  :func:`decode_audio`) and netpbm P5/P6 images (pure byte parsing +
  numpy; ``decode_images(engine="netpbm")``) decode actual media —
  channels/rate/duration/RMS and dims/mean/histogram features.
* **Fake**: ``engine="fake"`` produces a clearly-marked deterministic
  stand-in derived from the bytes (tests of batch shape/partitioning).
* **Import-guarded**: general JPEG/PNG/WebP decode via
  ``engine="pillow"`` (alias ``"real"``) — same feature schema as the
  netpbm kernel; raises ``NotImplementedError`` at plan-build time when
  Pillow is absent (it is absent from this container). Video decode
  (pyav) remains the one stub. Swapping a kernel in is local; the
  distributed plan is final.

Magic-byte sniffing and byte-level stats are real (pure expressions).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: file-format magic prefixes, hex-encoded (public file-format specs)
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),   # wav/avi container
    ("664C6143", "flac"),
    ("00000018667479", "mp4"),
    ("1A45DFA3", "webm"),
)

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
])


def sniff_format(col: Column) -> Column:
    """Container format from magic bytes (pure expression; 'unknown' when
    no prefix matches)."""
    hexed = F.hex(F.substring(col, 1, 16))
    expr = F.lit("unknown")
    for prefix, fmt in reversed(MAGIC_PREFIXES):
        expr = F.when(hexed.startswith(prefix), F.lit(fmt)).otherwise(expr)
    return expr


def byte_stats(df: DataFrame, id_col: str, media_col: str) -> DataFrame:
    """(id, n_bytes, content_md5, format) — expression-only byte-level
    facts; the dedup/partitioning workhorse for raw media."""
    c = F.col(media_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.octet_length(c).cast("long").alias("n_bytes"),
        F.md5(c).alias("content_md5"),
        sniff_format(c).alias("format"),
    )


def _fake_image_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic FAKE decode: dimensions/features derived from the
    bytes. Stands in for a real decoder so tests exercise batch shape."""
    n = len(payload)
    width = 16 + n % 64
    height = 16 + (n // 64) % 64
    channels = 3
    features = [((payload[i % n] if n else 0) / 255.0) for i in range(8)]
    return width, height, channels, features


def netpbm_pixels(payload: bytes):
    """Parse binary netpbm (P5 grayscale / P6 RGB) to raw samples:
    (width, height, channels, maxval, uint ndarray of w*h*c samples) —
    header tokens with ``#`` comments per the public spec, raw
    big-endian samples after. None when not netpbm."""
    import numpy as np

    if not payload.startswith((b"P5", b"P6")):
        return None
    channels = 3 if payload[:2] == b"P6" else 1
    # tokenizer: whitespace-separated header fields, '#' to EOL is comment
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    if len(tokens) < 3:
        return None
    width, height, maxval = tokens
    pos += 1  # single whitespace byte after maxval per spec
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    n = width * height * channels
    pix = np.frombuffer(payload, dtype=dtype, count=n, offset=pos)
    return width, height, channels, maxval, pix


def decode_netpbm(payload: bytes) -> tuple[int, int, int, list[float]] | None:
    """REAL image decode for binary netpbm (P5 grayscale / P6 RGB — the
    public netpbm spec): header tokens (magic, width, height, maxval, with
    ``#`` comments), then raw big-endian samples. Returns (width, height,
    channels, features) where features = [mean_intensity] + 7-bin
    histogram, all normalized to [0,1]; None when not netpbm."""
    import numpy as np

    parsed = netpbm_pixels(payload)
    if parsed is None:
        return None
    width, height, channels, maxval, pix = parsed
    norm = pix.astype("float64") / maxval
    hist, _ = np.histogram(norm, bins=7, range=(0.0, 1.0))
    feats = [float(norm.mean())] + [float(v) / max(len(norm), 1)
                                    for v in hist]
    return width, height, channels, [round(f, 6) for f in feats]


def pillow_available() -> bool:
    try:
        import PIL  # noqa: F401
    except ImportError:
        return False
    return True


def decode_pillow(payload: bytes) -> tuple | None:
    """General image decode via Pillow (JPEG/PNG/WebP/PPM/...), emitting
    the SAME feature contract as :func:`decode_netpbm`: (width, height,
    channels, [mean + 7-bin histogram of pixels normalized to [0,1]]).
    None for undecodable payloads. Raises ImportError when Pillow is
    absent — callers gate on :func:`pillow_available`."""
    import io

    import numpy as np
    from PIL import Image  # ImportError surfaces to the caller

    try:
        with Image.open(io.BytesIO(payload)) as im:
            im.load()
            arr = np.asarray(im)
    except Exception:
        return None
    if arr.ndim not in (2, 3) or arr.size == 0:
        return None
    if arr.dtype == np.uint8:
        maxval = 255.0
    elif arr.dtype == np.uint16:
        maxval = 65535.0
    else:  # float / mode "I" etc.: normalize by the observed peak
        arr = arr.astype("float64")
        maxval = float(max(arr.max(), 1.0))
    height, width = int(arr.shape[0]), int(arr.shape[1])
    channels = 1 if arr.ndim == 2 else int(arr.shape[2])
    norm = arr.astype("float64").ravel() / maxval
    hist, _ = np.histogram(norm, bins=7, range=(0.0, 1.0))
    feats = [float(norm.mean())] + [float(v) / max(len(norm), 1)
                                    for v in hist]
    return width, height, channels, [round(f, 6) for f in feats]


def decode_images(
    df: DataFrame,
    id_col: str,
    media_col: str,
    engine: str = "fake",
    batch_size_hint: int = 256,
) -> DataFrame:
    """Arrow-batched image decode + feature extraction.

    ``engine="netpbm"`` decodes real P5/P6 payloads (rows that aren't
    netpbm come back with null dims). ``engine="pillow"`` (alias
    ``"real"``) decodes any Pillow-supported format with the identical
    feature schema — import-guarded, failing fast on the DRIVER with
    ``NotImplementedError`` when Pillow is absent rather than burying an
    ImportError in executor logs mid-job. The plumbing — column pruning to
    (id, bytes), mapInPandas batch iteration, typed output schema — is the
    production path for every engine.
    """
    if engine == "real":
        engine = "pillow"
    if engine not in ("fake", "netpbm", "pillow"):
        raise ValueError(f"unknown decode engine: {engine}")
    if engine == "pillow" and not pillow_available():
        raise NotImplementedError(
            "engine='pillow' requires Pillow, absent from this "
            "environment; use engine='netpbm' or 'fake'")

    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                if engine == "netpbm":
                    decoded = decode_netpbm(payload)
                    w, h, ch, feats = decoded or (None, None, None, None)
                elif engine == "pillow":
                    decoded = decode_pillow(payload)
                    w, h, ch, feats = decoded or (None, None, None, None)
                else:
                    w, h, ch, feats = _fake_image_decode(payload)
                out.append((rid, w, h, ch, feats))
            yield pd.DataFrame(
                out, columns=["id", "width", "height", "channels", "features"]
            )

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"), F.col(media_col).alias("media")
    )
    return pruned.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
])


def decode_wav(payload: bytes) -> tuple | None:
    """REAL audio decode for PCM WAV via stdlib ``wave`` + numpy: channels,
    sample rate, frame count, duration, and amplitude stats (RMS + peak,
    normalized to [-1,1]). None when the payload isn't a parseable WAV."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            channels = w.getnchannels()
            rate = w.getframerate()
            n_frames = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError):
        return None
    dtype = {1: "u1", 2: "<i2", 4: "<i4"}.get(width)
    if dtype is None or rate <= 0:
        return None
    x = np.frombuffer(raw, dtype=dtype).astype("float64")
    if width == 1:
        x = (x - 128.0) / 128.0  # 8-bit WAV is unsigned
    else:
        x = x / float(2 ** (8 * width - 1))
    duration_ms = int(round(n_frames * 1000 / rate))
    rms = float(np.sqrt((x ** 2).mean())) if x.size else 0.0
    peak = float(np.abs(x).max()) if x.size else 0.0
    return (channels, rate, n_frames, duration_ms,
            round(rms, 6), round(peak, 6))


def decode_audio(df: DataFrame, id_col: str, media_col: str) -> DataFrame:
    """Arrow-batched REAL audio decode (PCM WAV — stdlib-only): non-WAV
    rows come back with null metrics, so mixed-media corpora stream
    through without a pre-filter."""
    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                decoded = decode_wav(payload) or (None,) * 6
                out.append((rid, *decoded))
            yield pd.DataFrame(
                out, columns=["id", "channels", "sample_rate", "n_frames",
                              "duration_ms", "rms", "peak"]
            )

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(media_col).alias("media"),
    )
    return pruned.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def frame_sample_offsets(
    duration_ms: Column, every_ms: int = 1000, max_frames: int = 32
) -> Column:
    """Video frame-sampling plan as an expression: array of millisecond
    offsets to decode (the decode itself is a kernel like decode_images).
    Bounded by ``max_frames`` so a 10-hour video can't explode a row."""
    n = F.least(
        (duration_ms / every_ms).cast("int") + 1, F.lit(max_frames)
    )
    return F.when(
        duration_ms.isNull() | (duration_ms < 0), F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(F.sequence(F.lit(0), n - 1), lambda i: i.cast("bigint") * every_ms)
    )


def resize_plan(
    df: DataFrame, id_col: str, media_col: str, target: tuple[int, int],
    engine: str = "fake",
) -> DataFrame:
    """Resize stub: reuses the decode kernel and tags the target size —
    (id, width, height, channels, features, target_w, target_h)."""
    decoded = decode_images(df, id_col, media_col, engine=engine)
    return decoded.select(
        "*",
        F.lit(target[0]).alias("target_w"),
        F.lit(target[1]).alias("target_h"),
    )


RESIZED_IMAGE_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("resized", T.BinaryType()),
])


def resize_netpbm(payload: bytes, target_w: int,
                  target_h: int) -> bytes | None:
    """REAL nearest-neighbor resize for binary netpbm (P5/P6): decode,
    index-map rows/cols onto the target grid, re-encode the SAME format
    (magic + maxval preserved, 8-bit output buffer for 8-bit input).
    Pure numpy fancy indexing — no Python pixel loop. None when the
    payload isn't netpbm."""
    import numpy as np

    if not payload.startswith((b"P5", b"P6")):
        return None
    channels = 3 if payload[:2] == b"P6" else 1
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    if len(tokens) < 3:
        return None
    width, height, maxval = tokens
    pos += 1
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    n = width * height * channels
    pix = np.frombuffer(payload, dtype=dtype, count=n, offset=pos)
    if pix.size < n:
        return None
    img = pix.reshape(height, width, channels)
    rows = (np.arange(target_h) * height) // target_h
    cols = (np.arange(target_w) * width) // target_w
    out = img[rows][:, cols]
    header = (payload[:2] + b"\n"
              + f"{target_w} {target_h}\n{maxval}\n".encode())
    return header + out.astype(dtype).tobytes()


def resize_images(
    df: DataFrame,
    id_col: str,
    media_col: str,
    target: tuple[int, int],
) -> DataFrame:
    """Arrow-batched REAL image resize (netpbm kernel): returns
    (id, width, height, channels, resized) with ``resized`` the
    re-encoded netpbm payload at the target size and width/height the
    ORIGINAL dims (the lineage a curation pipeline logs). Non-netpbm
    rows pass through with null dims/payload — mixed corpora stream
    without a pre-filter. Pillow/codec engines slot into the same
    kernel seam as decode_images.

    Scale: scan-stage mapInPandas over (id, bytes) only (column
    pruning keeps sibling columns out of the Arrow channel); output
    bytes ∝ target size, so a 100 MP original costs target-sized
    shuffle space downstream.
    """
    target_w, target_h = int(target[0]), int(target[1])
    if target_w < 1 or target_h < 1:
        raise ValueError("target dims must be >= 1")

    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                dec = decode_netpbm(payload)
                rz = resize_netpbm(payload, target_w, target_h)
                if dec is None or rz is None:
                    out.append((rid, None, None, None, None))
                else:
                    out.append((rid, dec[0], dec[1], dec[2], rz))
            yield pd.DataFrame(
                out, columns=["id", "width", "height", "channels",
                              "resized"])

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(media_col).alias("media"))
    return pruned.mapInPandas(run, RESIZED_IMAGE_SCHEMA)


RESAMPLED_AUDIO_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("orig_rate", T.IntegerType()),
    T.StructField("target_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
])


def resample_wav(payload: bytes, target_rate: int) -> tuple | None:
    """REAL linear-interpolation resample of a PCM WAV to
    ``target_rate`` (mono-folded): returns (orig_rate, n_samples, rms,
    peak) of the RESAMPLED signal. numpy ``interp`` over the sample
    grid — the standard zero-dependency kernel; polyphase filters slot
    into the same seam. None when not parseable WAV."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            channels = w.getnchannels()
            rate = w.getframerate()
            n_frames = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError):
        return None
    dtype = {1: "u1", 2: "<i2", 4: "<i4"}.get(width)
    if dtype is None or rate <= 0 or n_frames == 0:
        return None
    x = np.frombuffer(raw, dtype=dtype).astype("float64")
    if width == 1:
        x = (x - 128.0) / 128.0
    else:
        x = x / float(2 ** (8 * width - 1))
    mono = x.reshape(-1, channels).mean(axis=1)
    n_out = max(1, int(round(n_frames * target_rate / rate)))
    t_old = np.arange(n_frames) / rate
    t_new = np.arange(n_out) / target_rate
    y = np.interp(t_new, t_old, mono)
    rms = float(np.sqrt((y ** 2).mean()))
    peak = float(np.abs(y).max())
    return rate, n_out, round(rms, 6), round(peak, 6)


def resample_audio(
    df: DataFrame, id_col: str, media_col: str, target_rate: int = 16_000
) -> DataFrame:
    """Arrow-batched REAL audio resample (PCM WAV, stdlib+numpy): the
    fixed-sample-rate normalization every audio training pipeline runs
    before feature extraction. Non-WAV rows null out and stream
    through. Same scan-stage pruned-column mapInPandas shape as
    decode_audio."""
    if target_rate < 1:
        raise ValueError("target_rate must be >= 1")

    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                r = resample_wav(payload, target_rate)
                if r is None:
                    out.append((rid, None, None, None, None, None))
                else:
                    out.append((rid, r[0], target_rate, r[1], r[2], r[3]))
            yield pd.DataFrame(
                out, columns=["id", "orig_rate", "target_rate",
                              "n_samples", "rms", "peak"])

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(media_col).alias("media"))
    return pruned.mapInPandas(run, RESAMPLED_AUDIO_SCHEMA)


def dhash_bits(payload: bytes, grid_w: int = 8,
               grid_h: int = 8) -> tuple[int, int, int, int] | None:
    """Difference-hash a netpbm image to (width, height, hi, lo):
    grayscale (ITU-601 integer luma for P6: (299r+587g+114b)//1000),
    nearest-neighbor sample onto a (grid_w+1) x grid_h grid
    (src = g * dim // out_dim), bit k = grid[gy][gx+1] > grid[gy][gx]
    with k = gy*grid_w + gx; the 64 bits split into two uint32 halves
    (hi = bits 32.., lo = bits 0..31) so they ride signed BIGINT
    columns. Every step is integer arithmetic on the decoded samples —
    no floats anywhere — so the hash replays exactly in SQL from the
    same pixel values."""
    parsed = netpbm_pixels(payload)
    if parsed is None:
        return None
    width, height, channels, _maxval, pix = parsed
    if width < grid_w + 1 or height < grid_h:
        return None
    p = [int(x) for x in pix]
    if channels == 3:
        gray = [(299 * p[3 * i] + 587 * p[3 * i + 1]
                 + 114 * p[3 * i + 2]) // 1000
                for i in range(width * height)]
    else:
        gray = p
    hi = lo = 0
    for gy in range(grid_h):
        sy = gy * height // grid_h
        row = [gray[sy * width + (gx * width // (grid_w + 1))]
               for gx in range(grid_w + 1)]
        for gx in range(grid_w):
            if row[gx + 1] > row[gx]:
                k = gy * grid_w + gx
                if k < 32:
                    lo |= 1 << k
                else:
                    hi |= 1 << (k - 32)
    return width, height, hi, lo


DHASH_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("dhash_hi", T.LongType()),
    T.StructField("dhash_lo", T.LongType()),
])


def dhash_images(df: DataFrame, id_col: str, media_col: str,
                 grid_w: int = 8, grid_h: int = 8) -> DataFrame:
    """Perceptual difference-hash per image (Krawetz dHash): the
    image-native near-dup signature — invariant to uniform brightness
    shifts and re-encodes, cheap enough to run on every crawled image.
    (id, width, height, dhash_hi, dhash_lo); non-netpbm rows null out
    and stream through (the Pillow engine slots in for JPEG/PNG by
    swapping the decode call, same contract as decode_images).

    Scale: scan-stage mapInPandas over pruned (id, bytes) — zero
    shuffle; pair mining happens downstream on the 8-byte hashes via
    :func:`dhash_neardup_pairs`, never on pixels.
    """
    if grid_w * grid_h > 64 or grid_w < 1 or grid_h < 1:
        raise ValueError("grid_w * grid_h must be in 1..64")

    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                r = dhash_bits(payload, grid_w, grid_h)
                if r is None:
                    out.append((rid, None, None, None, None))
                else:
                    out.append((rid, r[0], r[1], r[2], r[3]))
            yield pd.DataFrame(
                out, columns=["id", "width", "height",
                              "dhash_hi", "dhash_lo"])

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(media_col).alias("media"))
    return pruned.mapInPandas(run, DHASH_SCHEMA)


def dhash_neardup_pairs(hashes: DataFrame, max_dist: int = 3,
                        max_band_size: int | None = 10_000,
                        stats: dict | None = None) -> DataFrame:
    """Image near-dup pairs by banded Hamming join over (dhash_hi,
    dhash_lo): the 64 bits split into four 16-bit bands; by pigeonhole
    any pair within Hamming distance <= 3 shares at least one identical
    band, so recall is EXACT for max_dist <= 3 (candidates above that
    may be missed — raise the band count for a wider exact radius).
    Candidates verify with exact popcount; never an all-pairs join —
    the shuffle keys on 16-bit band values.

    Hot-band guard (the MinHash bucket guard ported —
    operators/dedup.py:without_hot_keys): band values span only 2^16,
    so candidate pairs grow ~4*N^2/2^16 — fine at millions of images,
    degenerating toward all-pairs/16k at billions, and AQE splitting a
    hot partition cannot reduce the quadratic PAIR count within one
    band value. Band cells holding more than ``max_band_size`` rows
    are driver-resolved and cut before the self-join (``stats`` out-
    param reports how many cells tripped, like the dedup guards).

    Recall contract when the guard trips: a pair is still found iff at
    least one of its shared bands sits in a surviving cell — pairs ALL
    of whose shared bands are degenerate (e.g. a constant-image flood)
    are not emitted. Below the cap the <= 3 pigeonhole recall is
    untouched. At genuine billion-image scale prefer a longer
    perceptual hash with wider bands over raising the cap.

    NOTE: the guard resolves eagerly (one count job over ``hashes``) —
    persist/cache the hash frame first or the upstream decode runs
    twice; pass ``max_band_size=None`` to disable.

    (id_a, id_b, hamming), id_a < id_b.
    """
    if not 0 <= max_dist <= 64:
        raise ValueError("max_dist must be in 0..64")
    h = hashes.filter(F.col("dhash_hi").isNotNull()).select(
        "id", "dhash_hi", "dhash_lo")
    mask = F.lit(0xFFFF)
    banded = h.select(
        "id", "dhash_hi", "dhash_lo",
        F.posexplode(F.array(
            F.col("dhash_lo").bitwiseAND(mask),
            F.shiftright("dhash_lo", 16).bitwiseAND(mask),
            F.col("dhash_hi").bitwiseAND(mask),
            F.shiftright("dhash_hi", 16).bitwiseAND(mask),
        )).alias("band", "bv"))
    if max_band_size is not None:
        from dativo_ingest_spark.operators.dedup import without_hot_keys

        banded = (banded
                  .withColumn("cell", (F.col("band") * 65536
                                       + F.col("bv")).cast("long")))
        banded = without_hot_keys(banded, "cell", max_band_size,
                                  stats=stats).drop("cell")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.dhash_hi").alias("hi_a"),
                    F.col("a.dhash_lo").alias("lo_a"),
                    F.col("b.dhash_hi").alias("hi_b"),
                    F.col("b.dhash_lo").alias("lo_b"))
            .dropDuplicates(["id_a", "id_b"]))
    hamming = (F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
               + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))))
    return (cand.select("id_a", "id_b",
                        hamming.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_dist))


def wav_samples(payload: bytes):
    """Parse PCM WAV to raw integer samples (mono-mixed): (rate,
    channels, int64 ndarray of per-frame channel-SUM samples — an
    integer mono mixdown, exact). None when not parseable WAV."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            channels = w.getnchannels()
            rate = w.getframerate()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        return None
    dtype = {1: "u1", 2: "<i2", 4: "<i4"}.get(width)
    if dtype is None or rate <= 0:
        return None
    x = np.frombuffer(raw, dtype=dtype).astype(np.int64)
    if width == 1:
        x = x - 128  # 8-bit WAV is unsigned
    if channels > 1:
        x = x[:len(x) - len(x) % channels].reshape(-1, channels).sum(axis=1)
    return rate, channels, x


def audio_fingerprint_bits(payload: bytes,
                           n_frames: int = 32) -> tuple[int, int] | None:
    """Energy-contour fingerprint for PCM WAV: split the mono-mixed
    samples into ``n_frames + 1`` equal windows, per-window energy =
    exact integer sum of squared samples, bit k set iff
    energy[k+1] > energy[k] — the audio twin of the image dHash:
    invariant to uniform gain (energies scale together) and to
    container re-muxing, pure integer arithmetic end to end. Returns
    (n_samples, fingerprint) with the fingerprint in the low
    ``n_frames`` bits of a BIGINT; None for non-WAV or audio shorter
    than n_frames + 1 samples."""
    parsed = wav_samples(payload)
    if parsed is None:
        return None
    _rate, _channels, x = parsed
    n = int(x.size)
    if n < n_frames + 1:
        return None
    wlen = n // (n_frames + 1)
    energies = []
    for k in range(n_frames + 1):
        seg = x[k * wlen:(k + 1) * wlen]
        energies.append(int((seg * seg).sum()))
    fp = 0
    for k in range(n_frames):
        if energies[k + 1] > energies[k]:
            fp |= 1 << k
    return n, fp


AUDIO_FP_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("fingerprint", T.LongType()),
])


def audio_fingerprints(df: DataFrame, id_col: str, media_col: str,
                       n_frames: int = 32) -> DataFrame:
    """Per-clip energy-contour fingerprints (id, n_samples,
    fingerprint): the near-dup signature for audio corpora — gain
    changes, re-encodes to the same PCM, and padding-free re-muxes all
    map to the same 32-bit contour, so exact groupBy on the fingerprint
    (or the banded Hamming join from the image stack, reusing
    dhash_neardup_pairs on (hi=0, lo=fingerprint)) finds duplicates
    without comparing waveforms. Scan-stage mapInPandas over pruned
    (id, bytes); non-WAV rows null out and stream through."""
    if not 1 <= n_frames <= 62:
        raise ValueError("n_frames must be in 1..62")

    import pandas as pd  # executor-side

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid, payload in zip(pdf["id"], pdf["media"]):
                payload = bytes(payload) if payload is not None else b""
                r = audio_fingerprint_bits(payload, n_frames)
                out.append((rid, None, None) if r is None
                           else (rid, r[0], r[1]))
            yield pd.DataFrame(
                out, columns=["id", "n_samples", "fingerprint"])

    pruned = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(media_col).alias("media"))
    return pruned.mapInPandas(run, AUDIO_FP_SCHEMA)
