"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Design (the part that must be real at 100 TB):
- An asset is a row: `asset_id long, modality string, content binary,
  meta struct<mime string, width int, height int, sample_rate int,
  duration_ms long>`. Binary payloads live inline for small assets or as
  URI references (`content_uri`) for large ones — both schemas declared
  here so writers/readers agree.
- Decode / feature-extract / resize / scene-stats run as **Arrow-batched
  `mapInPandas`** operators: Spark streams record batches into Python, the
  heavy codec work happens per batch (not per row), and the output schema
  is fixed up front so Catalyst can plan around the op.
- The general codec layer (PIL/ffmpeg/librosa) is NOT in this environment,
  so `decode_fn=None` uses a deterministic fake decoder (metadata-derived)
  and real deployments inject the codec callable. One REAL format is
  decodable stdlib-only: uncompressed BMP (`bmp_decode`/`bmp_encode`/
  `bmp_resize`), so the real-bytes branch executes and is tested even
  here. The Spark-side contract — schemas, batching, partition sizing —
  is identical either way.

Partitioning guidance: binary-heavy tables should be written with
`maxRecordsPerFile` tuned so files stay ~128-256 MB, and processed with
`spark.sql.files.maxPartitionBytes` at default 128 MB so one task holds a
bounded number of payloads in memory.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_bikeshare_datawarehouse_spark.functions import dedup

ASSET_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),  # image | audio | video
    T.StructField("content", T.BinaryType(), True),
    T.StructField("content_uri", T.StringType(), True),
    T.StructField(
        "meta",
        T.StructType([
            T.StructField("mime", T.StringType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]),
        True,
    ),
])

FEATURE_SCHEMA = "asset_id long, modality string, n_bytes long, sha int, feature array<float>"


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real encoder: md5-seeded values.
    Real deployments replace this via `decode_fn`."""
    h = hashlib.md5(payload or b"").digest()
    return [((h[i % 16] / 255.0) * 2.0 - 1.0) for i in range(dim)]


def extract_features(
    df: DataFrame,
    decode_fn: Callable[[bytes, str], list[float]] | None = None,
    dim: int = 8,
) -> DataFrame:
    """Batch feature extraction over binary content via mapInPandas.

    `decode_fn(payload, modality) -> list[float]` is the pluggable codec+
    encoder; absent one, a deterministic md5-based fake keeps the pipeline
    testable end-to-end (clearly marked — NOT a real decoder)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["content"]
            feats, shas, sizes = [], [], []
            for payload, modality in zip(payloads, pdf["modality"]):
                raw = bytes(payload) if payload is not None else b""
                sizes.append(len(raw))
                shas.append(int.from_bytes(hashlib.sha256(raw).digest()[:4], "big") // 2)
                if decode_fn is not None:
                    feats.append(decode_fn(raw, modality))
                else:
                    feats.append(_fake_feature(raw, dim))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "n_bytes": sizes,
                "sha": shas,
                "feature": feats,
            })

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------- BMP codec
# Stdlib decoder/encoder for uncompressed BMP (BITMAPINFOHEADER, BI_RGB,
# 24-bit color or 8-bit palette) — one REAL image format decodable with
# struct+numpy alone, so the real-bytes branch of resize_images /
# phash_images executes in containers without PIL (r08 verdict #5). PIL
# remains the preferred import-gated path for every other format;
# payloads starting with b"BM" route here.


def bmp_encode(pixels) -> bytes:
    """Encode an (H,W) grayscale or (H,W,3) RGB uint8-ish array as a
    24-bit uncompressed BMP (BI_RGB, bottom-up, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    a = np.asarray(pixels)
    if a.ndim == 2:
        a = np.stack([a, a, a], axis=-1)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H,W) or (H,W,3) pixels, got {a.shape}")
    a = np.clip(np.round(a.astype("float64")), 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    pad = (-(w * 3)) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        body += a[y, :, ::-1].tobytes() + b"\x00" * pad  # RGB -> BGR
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header + info + body)


def bmp_decode(payload: bytes):
    """Decode an uncompressed BMP (24-bit BI_RGB or 8-bit palette,
    BITMAPINFOHEADER or larger, bottom-up or top-down) to an (H,W,3)
    uint8 RGB array."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (BITMAPCOREHEADER)")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression} (BI_RGB only)")
    top_down, h = h < 0, abs(h)
    if bpp == 24:
        stride = (w * 3 + 3) & ~3
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)
        img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    elif bpp == 8:
        n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
        pal = np.frombuffer(
            payload, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
        ).reshape(n_colors, 4)[:, 2::-1]  # BGRA -> RGB
        stride = (w + 3) & ~3
        idx = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)[:, :w]
        img = pal[idx]
    else:
        raise ValueError(f"unsupported BMP bit depth {bpp} (8/24 only)")
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def bmp_decode_gray(payload: bytes):
    """BMP → float64 grayscale via BT.601 luma — the injectable REAL
    `decode_fn` for `phash_images` in PIL-less containers."""
    img = bmp_decode(payload).astype("float64")
    return img[..., 0] * 0.299 + img[..., 1] * 0.587 + img[..., 2] * 0.114


def _nn_resize(img, width: int, height: int):
    """Nearest-neighbor index resize (floor sampling, the toy-codec rule)."""
    import numpy as np

    h, w = img.shape[:2]
    ys = np.minimum((np.arange(height) * h) // height, h - 1)
    xs = np.minimum((np.arange(width) * w) // width, w - 1)
    return img[ys][:, xs]


def bmp_resize(payload: bytes, width: int, height: int) -> bytes:
    """Stdlib real-codec resize: BMP decode → nearest-neighbor → BMP."""
    return bmp_encode(_nn_resize(bmp_decode(payload), width, height))


def _default_resize(payload: bytes, width: int, height: int) -> bytes:
    """Default `resize_images` codec: BMP payloads take the stdlib codec;
    everything else takes the import-gated PIL path."""
    if payload[:2] == b"BM":
        return bmp_resize(payload, width, height)
    return _pil_resize(payload, width, height)


def _pil_resize(payload: bytes, width: int, height: int) -> bytes:
    """Real codec path, import-gated: PIL decode → resize → PNG re-encode.
    Raises NotImplementedError where PIL is not installed (this container);
    deployments either install PIL or inject their own `codec_fn`."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - PIL absent in CI container
        raise NotImplementedError(
            "image codec (PIL) not available in this environment; "
            "install PIL or inject codec_fn to enable resize_images"
        ) from e
    img = Image.open(io.BytesIO(payload))  # pragma: no cover
    out = io.BytesIO()  # pragma: no cover
    img.resize((width, height)).save(out, format="PNG")  # pragma: no cover
    return out.getvalue()  # pragma: no cover


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    codec_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Image resize operator over Arrow-batched mapInPandas.

    `codec_fn(payload, width, height) -> bytes` is the pluggable codec
    (real codecs parse their own headers); the default routes BMP payloads
    through the stdlib `bmp_resize` codec (real bytes, works everywhere)
    and everything else through the import-gated PIL path, which raises
    NotImplementedError at EXECUTION time where PIL is absent — the plan
    (schema, batch shape) is constructible either way. Image rows get
    resized content and meta.width/height rewritten to the target;
    null-content and non-image rows pass through unchanged."""
    codec = codec_fn or _default_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, metas = [], []
            for content, modality, meta in zip(
                pdf["content"], pdf["modality"], pdf["meta"]
            ):
                if modality == "image" and content is not None:
                    contents.append(codec(bytes(content), width, height))
                    new_meta = dict(meta) if meta is not None else {}
                    new_meta["width"] = width
                    new_meta["height"] = height
                    metas.append(new_meta)
                else:
                    contents.append(content)
                    metas.append(meta)
            out = pdf.copy()
            out["content"] = contents
            out["meta"] = metas
            yield out

    return df.mapInPandas(run, schema=ASSET_SCHEMA)


PHASH_SCHEMA = "asset_id long, phash long"


def _fake_decode_gray(payload: bytes, size: int = 32):
    """Deterministic 32×32 grayscale stand-in for a real image decode:
    md5-keystream pixels. NOT a decoder — real deployments inject
    `decode_fn` (e.g. PIL → grayscale ndarray); identical payloads give
    identical pixels, which is the property the pHash plumbing tests."""
    import numpy as np

    out = bytearray()
    counter = 0
    seed = payload or b""
    while len(out) < size * size:
        out += hashlib.md5(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    arr = np.frombuffer(bytes(out[: size * size]), dtype=np.uint8)
    return arr.reshape(size, size).astype("float64")


def _dct2(block):
    """Orthonormal 2-D DCT-II via explicit basis matmul (no scipy)."""
    import numpy as np

    n = block.shape[0]
    k = np.arange(n).reshape(-1, 1)
    i = np.arange(n).reshape(1, -1)
    c = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    c[0, :] /= np.sqrt(2.0)
    return c @ block @ c.T


def _phash64(gray) -> int:
    """Classic 64-bit perceptual hash (public pHash recipe): 32×32 DCT,
    keep the top-left 8×8 low-frequency block, drop the DC term, set a
    bit where the coefficient exceeds the median of the 63 AC terms."""
    import numpy as np

    coeffs = _dct2(gray)[:8, :8].flatten()
    ac = coeffs[1:]
    med = float(np.median(ac))
    bits = 0
    for idx, v in enumerate(ac):
        if v > med:
            bits |= 1 << idx
    return bits


def phash_images(
    df: DataFrame,
    decode_fn: Callable[[bytes], "object"] | None = None,
) -> DataFrame:
    """Per-asset 64-bit perceptual hash over Arrow-batched mapInPandas.

    `decode_fn(payload) -> HxW grayscale ndarray` is the pluggable codec;
    outputs larger than 32×32 are block-averaged down (real pHash
    resizes). Without a codec the deterministic fake decoder keeps the
    whole pipeline testable (same contract as `extract_features`).

    Scale: pure per-row batch compute, no shuffle; the hash is 8 bytes/
    asset, so the downstream near-dup join never touches pixels."""
    import numpy as np

    decode = decode_fn or _fake_decode_gray

    def _to32(gray):
        g = np.asarray(gray, dtype="float64")
        h, w = g.shape
        if (h, w) == (32, 32):
            return g
        th, tw = (h // 32) * 32, (w // 32) * 32
        g = g[:th, :tw] if th and tw else np.pad(
            g, ((0, max(0, 32 - h)), (0, max(0, 32 - w))), mode="edge"
        )[:32, :32]
        if g.shape == (32, 32):
            return g
        return g.reshape(32, th // 32, 32, tw // 32).mean(axis=(1, 3))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload in pdf["content"]:
                raw = bytes(payload) if payload is not None else b""
                gray = _to32(decode(raw))
                # long is signed; fold bit 63 through the sign
                h = _phash64(gray)
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "phash": hashes})

    return df.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "asset_id",
    hash_col: str = "phash",
    conjunction: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by pHash Hamming distance, hash-agnostic
    (images pass the default phash column, audio passes hash_col='afp'):
    the 64-bit fingerprint goes through `dedup.simhash_candidates` as an
    8-band signature — the shared banded Hamming join over the DISTINCT-
    hash universe, then expansion to asset pairs (identical-hash groups
    surface as hamming-0 pairs) — and an exact Hamming filter.

    conjunction=True (default since r13) bands on PAIRS of 8-bit chunks,
    pigeonhole-lossless for distances <= 6 (<= 6 differing bits touch
    <= 6 chunks, leaving >= 2 intact chunks whose pair key matches);
    single-chunk banding is lossless to 7. Both cover every declared
    filter (images <= 6, audio <= 4), and because the final Hamming
    filter is exact, the OUTPUT pair set is identical under either
    scheme — conjunction=False remains for radius-7 use."""
    lossless_to = 6 if conjunction else 7
    if max_hamming > lossless_to:
        raise ValueError(
            f"{'conjunction' if conjunction else '8x8'} banding is lossless "
            f"only for max_hamming <= {lossless_to}"
        )
    pairs = dedup.simhash_candidates(
        hashes,
        id_col=id_col,
        bands=8,
        sig=F.col(hash_col),
        sig_bits=64,
        conjunction=conjunction,
    )
    return pairs.filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ------------------------------------------------------------- WAV audio
# Stdlib codec for mono 16-bit PCM WAV (`wave` + `struct`) — the audio
# analog of the BMP branch: one REAL audio container decodable without
# librosa/ffmpeg, so the audio path of the modality set executes and is
# tested even in this environment. Compressed formats remain the
# import-gated deployment concern, exactly like PIL for images.
# Features are integer-exact on purpose (isqrt RMS, signbit crossings,
# lag-1 autocorrelation as the spectral-tilt proxy): per-row integer
# arithmetic is bit-stable across engines, runs, and partitionings, so
# the rows-only gate's run-twice check and the pure-Python pytest replay
# (tests/test_functions.py) pin the math exactly.

AUDIO_FEATURE_SCHEMA = (
    "asset_id long, sample_rate int, n_samples long, duration_ms long, "
    "rms long, zero_crossings long, ac_lag1 long, peak int"
)


def _wav_encode_frames(frames: bytes, rate: int) -> bytes:
    """Mono 16-bit PCM WAV bytes from pre-packed little-endian int16
    frame bytes — the container write shared by the list API below and
    the numpy batch path in `synth_wav` (which produces frames with one
    vectorized tobytes instead of a 2048-arg struct.pack per asset)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def wav_encode(samples: Sequence[int], rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV bytes from int samples (each in [-32768, 32767])."""
    return _wav_encode_frames(struct.pack(f"<{len(samples)}h", *samples), rate)


def wav_decode(payload: bytes) -> tuple[int, list[int]]:
    """(sample_rate, samples) from mono 16-bit PCM WAV bytes."""
    rate, raw = _wav_frames(payload)
    return rate, list(struct.unpack(f"<{len(raw) // 2}h", raw))


def _wav_frames(payload: bytes) -> tuple[int, bytes]:
    """(sample_rate, raw little-endian int16 frame bytes) — the container
    parse shared by the list decoder and the numpy batch paths (which
    frombuffer the frames instead of building 10M-element Python lists)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("only mono 16-bit PCM WAV is supported stdlib-side")
        return w.getframerate(), w.readframes(w.getnframes())


def text_pcm_samples(payload: bytes, limit: int = 2048) -> list[int]:
    """Deterministic sample synth from arbitrary bytes (the corpus
    stand-in for real recordings, same role as the md5 fake feature):
    each byte becomes one centered 16-bit level, (b - 128) << 8."""
    b = (payload or b"\x00")[:limit]
    return [(x - 128) * 256 for x in b]


def synth_wav(df: DataFrame, rate: int = 8000, limit: int = 2048) -> DataFrame:
    """(asset_id, content: arbitrary bytes) -> (asset_id, modality
    'audio', content: real WAV bytes) via Arrow-batched mapInPandas —
    the encode half of the audio round-trip, so downstream operators
    exercise a true container parse, not a fake.

    The sample synth is vectorized (numpy byte view → int16 frames →
    one tobytes per asset, bit-identical to `text_pcm_samples` +
    `wav_encode`, pinned in tests): the per-sample Python loop +
    2048-arg struct.pack it replaces dominated the whole audio family's
    runtime (q_audio_features 8.3s → measured after; the container
    write itself is a 44-byte header)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for p in pdf["content"]:
                b = np.frombuffer(
                    bytes(p) if p else b"\x00", dtype=np.uint8
                )[:limit]
                frames = ((b.astype(np.int32) - 128) * 256).astype("<i2").tobytes()
                out.append(_wav_encode_frames(frames, rate))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": "audio",
                "content": out,
            })

    return df.mapInPandas(run, schema="asset_id long, modality string, content binary")


def audio_features(df: DataFrame, strict: bool = True) -> DataFrame:
    """Per-asset audio features from WAV content via mapInPandas:
    duration_ms (exact n·1000 div rate), RMS (isqrt of the mean square —
    integer), zero crossings (signbit changes), lag-1 autocorrelation
    mean (integer spectral-tilt proxy: high for low-frequency content,
    negative for alternating/noisy signals), and peak amplitude. The
    numpy batch path accumulates in int64 (max |s|²·n ≈ 2^41 « 2^63);
    the pytest replay recomputes pure-Python.

    Error contract: with `strict=True` (default) ONE malformed /
    non-mono / non-16-bit payload fails the whole Spark stage — the
    right behavior for a pipeline-synthesized corpus where a bad asset
    means an upstream bug. For scraped/partial corpora pass
    `strict=False`: unparseable payloads are dropped (no output row for
    that asset_id — anti-join the output against the input to report
    them), parse errors never abort the stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {k: [] for k in (
                "asset_id", "sample_rate", "n_samples", "duration_ms",
                "rms", "zero_crossings", "ac_lag1", "peak",
            )}
            for aid, payload in zip(pdf["asset_id"], pdf["content"]):
                try:
                    rate, raw = _wav_frames(bytes(payload))
                except Exception:
                    if strict:
                        raise
                    continue
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                n = int(s.size)
                sq = int((s * s).sum())
                rows["asset_id"].append(aid)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(n)
                rows["duration_ms"].append(n * 1000 // rate if rate else 0)
                rows["rms"].append(math.isqrt(sq // n) if n else 0)
                rows["zero_crossings"].append(
                    int(((s[:-1] < 0) != (s[1:] < 0)).sum()) if n > 1 else 0
                )
                rows["ac_lag1"].append(
                    int((s[:-1] * s[1:]).sum()) // (n - 1) if n > 1 else 0
                )
                rows["peak"].append(int(np.abs(s).max()) if n else 0)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


AUDIO_FP_SCHEMA = "asset_id long, afp long"


def _audio_fp64(samples: Sequence[int], n_frames: int = 65) -> int:
    """64-bit audio fingerprint: split the sample stream into `n_frames`
    equal frames (integer boundaries), take each frame's integer energy
    (sum of squares), and set bit i iff energy[i] > energy[i+1] — the
    energy-difference sign signature of Haitsma & Kalker's audio
    fingerprinting (ISMIR'02, public literature), reduced to one 64-bit
    word. All-integer, so bit-stable across engines/runs; robust to
    gain-ish changes by construction (signs of differences, not levels).
    Short streams pad with empty (zero-energy) frames deterministically."""
    n = len(samples)
    bits = 0
    energies = []
    for j in range(n_frames):
        lo, hi = j * n // n_frames, (j + 1) * n // n_frames
        energies.append(sum(v * v for v in samples[lo:hi]))
    for i in range(n_frames - 1):
        if energies[i] > energies[i + 1]:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def audio_fingerprint(df: DataFrame, n_frames: int = 65, strict: bool = True) -> DataFrame:
    """(asset_id, content: WAV bytes) -> (asset_id, afp: 64-bit signed
    fingerprint) via Arrow-batched mapInPandas — the audio analog of
    `phash_images`. Identical audio yields identical fingerprints, and
    near-identical audio (level tweaks, tail edits) differs in few bits,
    so the SAME banded Hamming join (`phash_near_dup`, hash-agnostic:
    pass hash_col='afp') finds near-dups pigeonhole-losslessly to
    distance 7 without an all-pairs join. Only 8-byte fingerprints ever
    shuffle; samples stay inside the Arrow stage.

    Error contract matches `audio_features`: strict=True (default)
    fails the stage on the first malformed payload; strict=False drops
    unparseable assets from the output instead."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fps = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["content"]):
                try:
                    _, raw = _wav_frames(bytes(payload))
                except Exception:
                    if strict:
                        raise
                    continue
                s = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                n = int(s.size)
                bits = 0
                bounds = [j * n // n_frames for j in range(n_frames + 1)]
                e = [int((s[bounds[j]:bounds[j + 1]] ** 2).sum())
                     for j in range(n_frames)]
                for i in range(n_frames - 1):
                    if e[i] > e[i + 1]:
                        bits |= 1 << i
                ids.append(aid)
                fps.append(bits - (1 << 64) if bits >= (1 << 63) else bits)
            yield pd.DataFrame({"asset_id": ids, "afp": fps})

    return df.mapInPandas(run, schema=AUDIO_FP_SCHEMA)


# ------------------------------------------------------------ TVID codec
# A REAL (if minimal) video container decodable with struct+numpy alone —
# the video leg of the stdlib-real modality set (BMP for images, `wave`
# for audio): fixed header (magic, frame count, dimensions, frame
# duration) followed by length-prefixed BMP frames. Real deployments
# swap in ffmpeg/PyAV behind the same (payload) -> frames contract; the
# Spark-side plumbing — schema, Arrow batching, per-frame explode shape —
# is identical either way.

TVID_MAGIC = b"TVID"


def tvid_encode(frames, frame_ms: int) -> bytes:
    """Encode a sequence of (H,W) uint8 grayscale arrays as a TVID
    container: b"TVID" + <u16 n_frames, u16 w, u16 h, u32 frame_ms> +
    per frame (u32 length + 24-bit BMP bytes). Lossless for uint8 gray
    (BMP stores r=g=b)."""
    import numpy as np

    if not frames:
        raise ValueError("TVID needs at least one frame")
    h, w = np.asarray(frames[0]).shape
    out = bytearray(TVID_MAGIC)
    out += struct.pack("<HHHI", len(frames), w, h, frame_ms)
    for fr in frames:
        a = np.asarray(fr)
        if a.shape != (h, w):
            raise ValueError(f"ragged frame {a.shape} != {(h, w)}")
        bmp = bmp_encode(a)
        out += struct.pack("<I", len(bmp)) + bmp
    return bytes(out)


def tvid_decode(payload: bytes):
    """Decode a TVID container to (frame_ms, [(H,W) uint8 gray arrays]).
    Frames come back via the stdlib BMP decoder (channel 0 of the RGB
    array — TVID frames are encoded gray, all channels equal)."""
    if payload[:4] != TVID_MAGIC:
        raise ValueError("not a TVID payload (missing magic)")
    n_frames, w, h, frame_ms = struct.unpack_from("<HHHI", payload, 4)
    frames, off = [], 4 + struct.calcsize("<HHHI")
    for _ in range(n_frames):
        (ln,) = struct.unpack_from("<I", payload, off)
        off += 4
        frames.append(bmp_decode(payload[off : off + ln])[:, :, 0])
        off += ln
    return frame_ms, frames


def synth_video(
    df: DataFrame,
    n_frames: int = 6,
    width: int = 16,
    height: int = 16,
    frame_ms: int = 200,
) -> DataFrame:
    """Deterministic toy video per document: REAL TVID/BMP bytes whose
    gray pixels follow the closed form

        p(doc, f, i) = ((doc_id·31 + n_chars) % 997 + (f+1)·(7·i+13)) % 251

    (f = frame index, i = row-major pixel index). The closed form is the
    point: downstream frame math (q_video_scenes) is replayable in pure
    SQL from the documents table, so the WHOLE engine chain — container
    encode, length-prefixed parse, BMP decode, numpy frame deltas — is
    verified by the DuckDB hash gate, not just run-twice determinism.
    Synthesis is vectorized (one (n_frames, h·w) numpy grid per row);
    expects `doc_id` and `n_chars` columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(width * height, dtype=np.int64)
        f = np.arange(n_frames, dtype=np.int64)[:, None]
        base = (f + 1) * (7 * i + 13)  # (n_frames, n_px), doc-independent
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                s = (int(doc_id) * 31 + int(n_chars)) % 997
                px = ((s + base) % 251).astype(np.uint8)
                payloads.append(
                    tvid_encode(
                        [px[k].reshape(height, width) for k in range(n_frames)],
                        frame_ms,
                    )
                )
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                "modality": "video",
                "content": payloads,
                "content_uri": None,
                "meta": [
                    {
                        "mime": "video/x-tvid",
                        "width": width,
                        "height": height,
                        "sample_rate": None,
                        "duration_ms": n_frames * frame_ms,
                    }
                ] * len(payloads),
            })

    return df.mapInPandas(run, schema=ASSET_SCHEMA)


VIDEO_SCENE_SCHEMA = (
    "asset_id long, n_frames int, total_motion long, n_cuts int, max_diff long"
)


def video_scene_stats(
    df: DataFrame, cut_threshold: int, strict: bool = True
) -> DataFrame:
    """Scene-change detection over TVID content: per asset, the frame
    count, total inter-frame motion (Σ over consecutive pairs of
    Σ|Δpixel|), the number of cuts (pairs whose absolute-difference sum
    exceeds `cut_threshold`), and the largest pair delta — the shot-
    boundary pass a video curation pipeline runs before frame-level
    dedup. Integer arithmetic end to end (uint8 → int32 diffs → long
    sums), so engine and oracle agree exactly. Same error contract as
    `audio_features`: strict=True fails the stage on a malformed
    container, strict=False drops the row. Single-frame videos emit
    zero motion/cuts and max_diff NULL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, nfs, totals, cuts, maxes = [], [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["content"]):
                try:
                    _, frames = tvid_decode(
                        bytes(payload) if payload is not None else b""
                    )
                except ValueError:
                    if strict:
                        raise
                    continue
                stack = np.stack(frames).astype(np.int32)
                diffs = [
                    int(np.abs(stack[k + 1] - stack[k]).sum())
                    for k in range(len(frames) - 1)
                ]
                ids.append(aid)
                nfs.append(len(frames))
                totals.append(sum(diffs))
                cuts.append(sum(1 for d in diffs if d > cut_threshold))
                maxes.append(max(diffs) if diffs else None)
            yield pd.DataFrame({
                "asset_id": ids,
                "n_frames": nfs,
                "total_motion": totals,
                "n_cuts": cuts,
                "max_diff": maxes,
            })

    return df.mapInPandas(run, schema=VIDEO_SCENE_SCHEMA)


def synth_image(
    df: DataFrame, width: int = 16, height: int = 16
) -> DataFrame:
    """Deterministic toy image per document: REAL 24-bit BMP bytes whose
    gray pixels follow the same closed form as `synth_video`'s frame 0
    (p(doc, i) = ((doc_id·31 + n_chars) % 997 + 7·i + 13) % 251), so
    image operators downstream (resize, checksum) are replayable in pure
    SQL from the documents table. Expects `doc_id` and `n_chars`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(width * height, dtype=np.int64)
        base = 7 * i + 13
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                s = (int(doc_id) * 31 + int(n_chars)) % 997
                px = ((s + base) % 251).astype(np.uint8)
                payloads.append(bmp_encode(px.reshape(height, width)))
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                "modality": "image",
                "content": payloads,
                "content_uri": None,
                "meta": [
                    {
                        "mime": "image/bmp",
                        "width": width,
                        "height": height,
                        "sample_rate": None,
                        "duration_ms": None,
                    }
                ] * len(payloads),
            })

    return df.mapInPandas(run, schema=ASSET_SCHEMA)


IMAGE_CHECKSUM_SCHEMA = "asset_id long, width int, height int, px_checksum long"


def image_checksum(df: DataFrame, strict: bool = True) -> DataFrame:
    """Position-weighted pixel checksum of BMP content: Σ (i+1)·px_i over
    the row-major gray channel — linear, so any pixel moved, dropped, or
    changed by a codec bug shifts it; exact longs, so engine and oracle
    agree bit-for-bit. The verification read-back of an image transform
    (the q_image_resize gate decodes what resize_images re-encoded).
    strict=False drops undecodable payloads like the audio/video readers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, cks = [], [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["content"]):
                try:
                    img = bmp_decode(bytes(payload) if payload is not None else b"")
                except ValueError:
                    if strict:
                        raise
                    continue
                gray = img[:, :, 0].astype(np.int64).reshape(-1)
                ids.append(aid)
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                cks.append(int((gray * (np.arange(gray.size) + 1)).sum()))
            yield pd.DataFrame({
                "asset_id": ids,
                "width": pd.array(ws, dtype="int32"),
                "height": pd.array(hs, dtype="int32"),
                "px_checksum": cks,
            })

    return df.mapInPandas(run, schema=IMAGE_CHECKSUM_SCHEMA)
