"""Image-payload pipeline: decode / encode / phash over binary columns.

The graft cell is pyspark × image (BASELINE.json input_hint): the payload
table is (image_id, bytes, w, h, fmt, caption, phash). This module makes
the Spark-side plumbing real — schema, Arrow batching, mapInPandas UDF
shape, partitioning — with a self-contained deterministic codec:

- PNG: a real, spec-conformant encoder/decoder (zlib + numpy; the
  encoder emits filter 0, the decoder reconstructs ALL five scanline
  filters and the gray/gray-alpha/RGB/RGBA color types) — lossless
  round-trip, bit-exact across runs. No external image library is
  present in this environment, so this codec IS the production seam;
  swapping in Pillow/libvips changes one function.
- JPEG: genuine DCT quantization is stubbed (no codec lib available). The
  lossy path is modeled by a clearly-marked deterministic surrogate —
  uniform pixel quantization at "quality" q — which preserves the property
  the per-row invariant tests (PSNR ≥ 40 dB vs the original, not equal).
  ``decode_image``'s jpeg branch is the one seam where a real codec plugs
  in.

phash: classic 64-bit DCT perceptual hash (resize 32×32 grayscale → 2D
DCT-II → top-left 8×8 minus DC → median threshold), pure numpy. Near-dup
images (re-encodes, mild quantization) land within Hamming ≤ 4
(north_rule: "phash-based near-dup on images").

Everything runs through ``mapInPandas`` with bounded Arrow batches — the
bytes column never passes through Python row-at-a-time, and never through
the driver.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ----------------------------------------------------------- PNG codec -----
def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal RGB8 PNG encoder (color type 2, bit depth 8, filter 0)."""
    h, w, _ = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Spec-conformant decode of non-interlaced 8-bit PNGs: ALL five
    scanline filters (none/sub/up/average/Paeth, RFC 2083 §6) and the
    color types a crawl actually meets — grayscale (0), RGB (2),
    gray+alpha (4), RGBA (6). Output is always (h, w, 3) uint8: gray
    replicates to three channels, alpha is dropped (the pair pipeline's
    catalog schema is RGB; compositing policy belongs to the caller).
    Palette (3), 16-bit, and interlaced streams still raise — they are
    rare in the crawl and belong to the real-codec seam."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat, ch = 8, 0, 0, b"", 3
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            if depth != 8:
                raise NotImplementedError("only bit depth 8 supported")
            if inter != 0:
                raise NotImplementedError("interlaced PNG not supported")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
            if channels is None:
                raise NotImplementedError(f"PNG color type {ctype}")
            ch = channels
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = ch  # bytes per pixel at depth 8
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        )
        if f == 0:
            cur = line.copy()
        elif f == 2:  # up
            cur = (line.astype(np.int16) + prev).astype(np.uint8)
        elif f == 1:
            # sub: recon[i] = Σ line[0..i] per channel lane (mod-256
            # addition is associative) — a vectorized prefix sum, no
            # per-byte scan
            cur = (
                line.reshape(w, bpp).astype(np.uint64).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif f in (3, 4):
            # average / Paeth are sequential in x (the predictor reads the
            # reconstructed LEFT byte), so no prefix trick applies; a plain
            # Python-int loop over bytes()/list beats both numpy scalar
            # indexing (~2×) and per-pixel lane vectorization (~10× — the
            # 3-wide array ops are all overhead) at this dependency shape
            lb = bytes(line)
            pl = prev.tolist()
            cl = [0] * stride
            if f == 3:  # average: floor((left + up) / 2)
                for x in range(stride):
                    left = cl[x - bpp] if x >= bpp else 0
                    cl[x] = (lb[x] + ((left + pl[x]) >> 1)) & 0xFF
            else:  # Paeth predictor
                for x in range(stride):
                    a = cl[x - bpp] if x >= bpp else 0
                    b = pl[x]
                    c = pl[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    cl[x] = (lb[x] + pred) & 0xFF
            cur = np.array(cl, dtype=np.uint8)
        else:
            raise ValueError(f"invalid PNG filter {f}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, ch)
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    if ch == 2:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if ch == 4:
        return np.ascontiguousarray(px[:, :, :3])
    return px


# --------------------------------------------------- lossy path (stubbed) --
LOSSY_MAGIC = b"LQNT"


def encode_lossy(pixels: np.ndarray, quality: int = 90) -> bytes:
    """Deterministic lossy surrogate: uniform quantization with step
    derived from quality, zlib-compressed. PSNR at q=90 is ~44 dB —
    inside the invariant's ≥40 dB band, like a real JPEG q=90."""
    step = max(1, (100 - quality) // 2)
    h, w, _ = pixels.shape
    q = (pixels.astype(np.int32) // step * step + step // 2).clip(0, 255).astype(np.uint8)
    return LOSSY_MAGIC + struct.pack(">IIB", w, h, step) + zlib.compress(q.tobytes(), 6)


def decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] != LOSSY_MAGIC:
        raise ValueError("not a lossy-surrogate payload")
    w, h, _step = struct.unpack(">IIB", data[4:13])
    return np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8).reshape(h, w, 3)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpeg", "jpg"):
        return decode_lossy(data)  # surrogate: the real-codec seam
    raise ValueError(f"unknown fmt {fmt}")


# ------------------------------------------------------------- phash -------
_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi / n * (i + 0.5) * k)
        m[0] *= 1 / np.sqrt(2)
        _DCT32 = m * np.sqrt(2.0 / n)
    return _DCT32


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (32×32 gray → DCT-II → 8×8 low-freq
    minus DC → median threshold). Signed int64 (Spark LongType)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(32) * h // 32).clip(0, h - 1)
    xs = (np.arange(32) * w // 32).clip(0, w - 1)
    small = gray[np.ix_(ys, xs)]
    m = _dct_matrix(32)
    d = m @ small @ m.T
    block = d[:8, :8].flatten()
    block = np.delete(block, 0)
    med = np.median(block)
    bits = block > med
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (row-gradient dHash) — the standard cheap
    complement to phash: 8×9 grayscale sample, bit = left pixel brighter
    than its right neighbor. Production image dedup runs a SECOND hash
    family over phash candidates because the two fail differently (phash
    on global low-frequency structure, dhash on local gradients); on the
    synthetic corpus re-encode pairs measure dhash-Hamming ≤ 2 while
    distinct ids measure ≥ 23, so a consensus threshold of 8 separates
    cleanly. Signed int64 (Spark LongType)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(9) * w // 9).clip(0, w - 1)
    small = gray[np.ix_(ys, xs)]
    bits = (small[:, :-1] > small[:, 1:]).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def ahash64(pixels: np.ndarray) -> int:
    """64-bit average hash (aHash) — the third classic perceptual-hash
    family beside phash (global low-frequency structure) and dhash (local
    gradients): 8×8 grayscale sample, bit = pixel brighter than the mean
    of the 64 samples. Completes the production tri-hash consensus: the
    three families fail on DIFFERENT image classes (aHash on flat/low-
    contrast images, dhash on smooth gradients, phash on heavy crops), so
    a 2-of-3 vote keeps each family's false positives out of the collapse
    while never vetoing a true re-encode pair (re-encodes stay within
    Hamming ≤ 4 on all three). Signed int64 (Spark LongType)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(8) * w // 8).clip(0, w - 1)
    small = gray[np.ix_(ys, xs)]
    bits = (small > small.mean()).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def colorfulness(pixels: np.ndarray) -> float:
    """Hasler–Süsstrunk colorfulness (CIC 2003, "Measuring colourfulness
    in natural images"): M = sqrt(sigma_rg^2 + sigma_yb^2) + 0.3 *
    sqrt(mu_rg^2 + mu_yb^2) over the opponent channels rg = R - G and
    yb = (R + G)/2 - B. The standard cheap aesthetic-adjacent signal in
    image curation stacks (grayscale scans, line art, and flat screenshots
    score near 0; saturated photographs score 40+); unlike the model
    scores it is computed exactly from decoded pixels."""
    px = pixels.astype(np.float64)
    rg = px[..., 0] - px[..., 1]
    yb = 0.5 * (px[..., 0] + px[..., 1]) - px[..., 2]
    return float(
        np.sqrt(rg.std() ** 2 + yb.std() ** 2)
        + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
    )


def synth_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic procedural bitmap: smooth gradients + a seeded pattern
    (hash of image_id), so near-dup re-encodes stay phash-close while
    distinct ids differ. Pure numpy, no RNG state."""
    seed = zlib.crc32(image_id.encode()) & 0xFFFFFFFF
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    fx, fy = 1 + seed % 5, 1 + (seed >> 8) % 5
    phase = (seed >> 16) % 256 / 40.0
    r = 127.5 + 127.5 * np.sin(2 * np.pi * fx * xx / max(w, 1) + phase)
    g = 127.5 + 127.5 * np.sin(2 * np.pi * fy * yy / max(h, 1) + phase * 0.5)
    b = 127.5 + 127.5 * np.sin(2 * np.pi * (xx + yy) / max(w + h, 1) + phase * 0.25)
    base = np.stack([r, g, b], axis=-1)
    # seeded 8×8 block pattern: gives each id a distinctive low-frequency
    # structure (phash Hamming ~30 between distinct ids) while re-encodes
    # of the same id stay within Hamming ≤ 4. SplitMix64-style hash per
    # block, vectorized — no RNG state.
    bs = 8
    by, bx = (np.arange(h) // bs)[:, None], (np.arange(w) // bs)[None, :]
    with np.errstate(over="ignore"):  # modular uint64 arithmetic, by design
        z = (by.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
             + bx.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
             + np.uint64(seed) * np.uint64(0x94D049BB133111EB))
        z = (z ^ (z >> np.uint64(31))) * np.uint64(0xD6E8FEB86659FD93)
        z = z ^ (z >> np.uint64(27))
    noise = (z % np.uint64(256)).astype(np.float64) - 128.0
    out = base * 0.4 + 127.5 * 0.6 + noise[..., None] * 0.6
    return out.clip(0, 255).astype(np.uint8)


# ------------------------------------------------- Spark-side pipeline -----
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("colorfulness", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + phash + luma per image via mapInPandas (Arrow-batched;
    bytes never hit the driver). Input: the input_hint schema."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                try:
                    px = decode_image(row["bytes"], row["fmt"])
                    rows.append(
                        (
                            row["image_id"], int(px.shape[1]), int(px.shape[0]),
                            row["fmt"], row["caption"], phash64(px),
                            dhash64(px), ahash64(px),
                            float(px.astype(np.float64).mean()),
                            colorfulness(px), True,
                        )
                    )
                except Exception:
                    rows.append(
                        (row["image_id"], None, None, row["fmt"], row["caption"],
                         None, None, None, None, None, False)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return images.mapInPandas(gen, IMAGE_FEATURES_SCHEMA)


def with_phash(images: DataFrame) -> DataFrame:
    """``images`` (any columns including ``bytes`` and ``fmt``) with a
    ``phash`` column appended: the decode + phash of
    :func:`image_features`, NULL where the bytes do not decode. One
    pass-through mapInPandas, so every row keeps its own columns and
    nothing is joined back on a key."""
    schema = T.StructType(
        images.schema.fields + [T.StructField("phash", T.LongType(), True)]
    )

    def append_phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
                try:
                    hashes.append(phash64(decode_image(data, fmt)))
                except Exception:
                    hashes.append(None)
            # nullable Int64: a NULL never turns the 64-bit hashes into floats
            yield pdf.assign(phash=pd.array(hashes, dtype="Int64"))

    return images.mapInPandas(append_phash, schema)


def synthesize_images(
    spark, n: int, caption_fn=None, lossy_every: int = 4, neardup_every: int = 10
) -> DataFrame:
    """Deterministic images table in the input_hint shape, generated
    distributed (spark.range → mapInPandas): every ``lossy_every``-th row
    is the lossy surrogate, every ``neardup_every``-th row gets a sibling
    re-encode at q=85 (`<id>_dup`) that phash dedup must collapse."""
    from web_crawler_spark.schemas import IMAGES

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                image_id = f"img_{i:012d}"
                w = 16 + (zlib.crc32(f"{image_id}|w".encode()) % 6) * 16
                h = 16 + (zlib.crc32(f"{image_id}|h".encode()) % 6) * 16
                px = synth_pixels(image_id, w, h)
                fmt = "jpeg" if i % lossy_every == 0 else "png"
                data = encode_lossy(px, 90) if fmt == "jpeg" else encode_png(px)
                caption = caption_fn(i) if caption_fn else f"synthetic scene {i}"
                # phash of the *payload* (decoded bytes), so the stored value
                # equals what any downstream decode+phash pass recomputes
                ph = phash64(decode_lossy(data)) if fmt == "jpeg" else phash64(px)
                rows.append((image_id, data, w, h, fmt, caption, ph))
                if neardup_every and i % neardup_every == 0:
                    dup = encode_lossy(px, 85)
                    rows.append(
                        (f"{image_id}_dup", dup, w, h, "jpeg", caption,
                         phash64(decode_lossy(dup)))
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES.fields])

    return spark.range(n).mapInPandas(gen, IMAGES)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


# --------------------------------------------- image+caption curation -----
# The standard web-scale image-text curation gates (the LAION/DataComp
# recipe family, applied to the reference's image+caption rows —
# input_hint schema; caption text comes from the extractors the reference
# builds in advanced-scraper.service.js). Pure column algebra: the gates
# read only the metadata columns (w, h, fmt, caption), never the bytes,
# so curation runs as a narrow projection ahead of any decode — at 100 TB
# the rejected rows never cost a decode or a shuffle.
CURATION_JUNK_RE = r"(?i)^(img|dsc|dcim|image|photo|untitled|screenshot)[-_ ]?[0-9]+"
CURATION_URL_RE = r"(?i)https?://"


def curate_pairs(
    df: DataFrame,
    min_dim: int = 64,
    max_aspect: float = 3.0,
    min_tokens: int = 2,
    max_tokens: int = 32,
    max_digit_ratio: float = 0.3,
    formats: tuple[str, ...] = ("png", "jpeg"),
) -> DataFrame:
    """Image+caption pair curation: append ``keep`` / ``reject_reason`` /
    ``aspect`` / ``n_caption_tokens`` to an input_hint-shaped table.

    Gate cascade (first failure names the reason, mirroring the public
    LAION-style filtering order):

    1. ``bad_format``     — fmt not in ``formats``
    2. ``too_small``      — min(w, h) < ``min_dim``
    3. ``bad_aspect``     — max(w,h)/min(w,h) > ``max_aspect``
    4. ``no_caption``     — NULL / whitespace-only caption
    5. ``caption_length`` — token count outside [min_tokens, max_tokens]
    6. ``junk_caption``   — filename-like caption (IMG_1234 …)
    7. ``url_in_caption`` — caption embeds a URL
    8. ``digit_heavy``    — digit chars ≥ ``max_digit_ratio`` of caption
    """
    cap = F.col("caption")
    trimmed = F.trim(F.regexp_replace(cap, r"\s+", " "))
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, " "))
    )
    digit_ratio = F.when(F.length(cap) > 0,
                         F.length(F.regexp_replace(cap, "[^0-9]", ""))
                         .cast("double") / F.length(cap)).otherwise(F.lit(0.0))
    aspect = (
        F.greatest("w", "h").cast("double") / F.least("w", "h").cast("double")
    )
    reason = (
        F.when(~F.col("fmt").isin(*formats), F.lit("bad_format"))
        .when(F.least("w", "h") < min_dim, F.lit("too_small"))
        .when(aspect > max_aspect, F.lit("bad_aspect"))
        .when(cap.isNull() | (F.length(trimmed) == 0), F.lit("no_caption"))
        .when(
            (n_tokens < min_tokens) | (n_tokens > max_tokens),
            F.lit("caption_length"),
        )
        .when(cap.rlike(CURATION_JUNK_RE), F.lit("junk_caption"))
        .when(cap.rlike(CURATION_URL_RE), F.lit("url_in_caption"))
        .when(digit_ratio >= max_digit_ratio, F.lit("digit_heavy"))
    )
    return df.select(
        "*",
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
        F.round(aspect, 4).alias("aspect"),
        n_tokens.cast("long").alias("n_caption_tokens"),
    )


def model_score_gate(
    df: DataFrame,
    scores: DataFrame,
    nsfw_max: float = 0.1,
    aesthetic_min: float = 4.5,
    watermark_max: float = 0.5,
) -> DataFrame:
    """Model-score curation gate (the LAION/DataComp stage after the
    metadata gates): NSFW probability, aesthetic score, and watermark
    probability arrive AS DATA — a ``scores`` table (image_id, nsfw_p,
    aesthetic, watermark_p) produced upstream by whatever classifier tower
    the deployment runs — and this operator is the broadcast join plus the
    first-failure threshold cascade. Scores-as-data is the same seam as
    the ANN codebook tables: the models are swappable, the Spark plan
    (one broadcast hash join + a codegen projection, no shuffle) is not.

    Cascade (first failure names ``reject_reason``):
    ``missing_score`` (no row / NULL in the scores table — unscored
    images never silently pass) → ``nsfw`` (> nsfw_max) → ``watermark``
    (> watermark_max) → ``low_aesthetic`` (< aesthetic_min).
    """
    j = df.join(
        F.broadcast(scores.select("image_id", "nsfw_p", "aesthetic",
                                  "watermark_p")),
        "image_id", "left",
    )
    reason = (
        F.when(
            F.col("nsfw_p").isNull() | F.col("aesthetic").isNull()
            | F.col("watermark_p").isNull(),
            F.lit("missing_score"),
        )
        .when(F.col("nsfw_p") > nsfw_max, F.lit("nsfw"))
        .when(F.col("watermark_p") > watermark_max, F.lit("watermark"))
        .when(F.col("aesthetic") < aesthetic_min, F.lit("low_aesthetic"))
    )
    return j.select(
        "*", reason.isNull().alias("keep"), reason.alias("reject_reason")
    )


# ------------------------------------------- aspect-ratio bucketing -----
# SDXL-style multi-aspect training buckets (Podell et al. 2023, appendix:
# ~1024^2-px-area resolutions in 64-px steps). Every image snaps to the
# bucket whose aspect ratio is nearest its own, so a training batch can be
# assembled from same-shaped tensors without destructive square cropping.
SDXL_BUCKETS: list[tuple[int, int]] = [
    (512, 2048), (576, 1792), (640, 1600), (704, 1408), (768, 1344),
    (832, 1216), (896, 1152), (960, 1088), (1024, 1024), (1088, 960),
    (1152, 896), (1216, 832), (1344, 768), (1408, 704), (1600, 640),
    (1792, 576), (2048, 512),
]


def aspect_bucket(
    df: DataFrame,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    buckets: list[tuple[int, int]] | None = None,
    batch_size: int = 8,
    n_streams: int = 1,
) -> DataFrame:
    """Assign each image its nearest aspect bucket + a batch index.

    Bucket choice is a shuffle-free ``aggregate`` fold over the literal
    bucket array — argmin of the ratio distance
    ``max(w*bh, h*bw) / min(w*bh, h*bw)`` (monotone in |log-aspect
    delta|, computed as one double division of two exact integer
    products, so the DuckDB oracle reproduces it bit-for-bit). Ties keep
    the lowest bucket index (the fold only replaces on strict
    improvement).

    ``batch_idx`` then packs each bucket's images into fixed-size
    batches in ``id_col`` order. With the default ``n_streams=1`` the
    window partitions by bucket alone — deterministic global numbering,
    but parallelism is capped at #buckets (17 for the SDXL list), which
    is a real ceiling at corpus scale (10^10 rows / 17 buckets = ~10^9
    rows through one sort). ``n_streams > 1`` md5-salts each bucket into
    independent batch streams (``batch_stream`` column; batches are
    fixed-size within a (bucket, stream) pair, which is all a training
    loader needs) — parallelism becomes #buckets × n_streams, the same
    writer-stream trick shard_pack and pack_bins use.
    """
    from pyspark.sql import Window

    bks = buckets if buckets is not None else SDXL_BUCKETS
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    # the literal bucket array as one SQL expression, not ~7 Column calls
    # per bucket: array<struct<i:int, bw:bigint, bh:bigint>>
    arr = F.expr("array({})".format(", ".join(
        f"named_struct('i', {i}, 'bw', {int(bw)}L, 'bh', {int(bh)}L)"
        for i, (bw, bh) in enumerate(bks)
    )))

    def ratio(b):  # exact int products -> one correctly-rounded division
        return (
            F.greatest(w * b["bh"], h * b["bw"]).cast("double")
            / F.least(w * b["bh"], h * b["bw"]).cast("double")
        )

    init = F.struct(
        F.lit(-1).alias("i"),
        F.lit(0).cast("long").alias("bw"),
        F.lit(0).cast("long").alias("bh"),
        F.lit(float("inf")).alias("r"),
    )

    def step(acc, b):
        r = ratio(b)
        better = r < acc["r"]
        return F.struct(
            F.when(better, b["i"]).otherwise(acc["i"]).alias("i"),
            F.when(better, b["bw"]).otherwise(acc["bw"]).alias("bw"),
            F.when(better, b["bh"]).otherwise(acc["bh"]).alias("bh"),
            F.when(better, r).otherwise(acc["r"]).alias("r"),
        )

    best = F.aggregate(arr, init, step)
    stream = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col(id_col).cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("int") % n_streams
    ).cast("long") if n_streams > 1 else F.lit(0).cast("long")
    out = df.withColumn("_bk", best).select(
        "*",
        F.col("_bk.bw").alias("bucket_w"),
        F.col("_bk.bh").alias("bucket_h"),
        F.concat(F.col("_bk.bw"), F.lit("x"), F.col("_bk.bh")).alias("bucket_key"),
        F.round(F.col("_bk.r"), 6).alias("aspect_dist"),
        stream.alias("batch_stream"),
    ).drop("_bk")
    win = Window.partitionBy("bucket_key", "batch_stream").orderBy(id_col)
    return out.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(win) - 1) / batch_size).cast("long"),
    )


# ------------------------------------- WebDataset-style shard packing -----
def shard_pack(
    df: DataFrame,
    bytes_col,
    id_col: str = "image_id",
    n_writers: int = 8,
    shard_bytes: int = 4 * 1024 * 1024,
) -> DataFrame:
    """Assign each sample a (writer, shard, byte offset) — the WebDataset
    tar-shard layout a multimodal training job streams from.

    Samples hash into ``n_writers`` independent writer streams (md5 of the
    id — engine-portable, stable under corpus growth), then pack greedily
    in id order within the writer: running byte count gives the shard
    (``cum // shard_bytes``) and start offset (``cum % shard_bytes``).
    The only wide operation is the per-writer window cumsum — parallelism
    is ``n_writers`` (size it to the cluster; a global packing order would
    serialize the corpus through one partition at 100 TB, which this
    layout exists to avoid).
    """
    from pyspark.sql import Window

    key = F.col(id_col).cast("string")
    writer = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard|"), key)), 1, 4), 16, 10)
        .cast("int") % n_writers
    )
    b = bytes_col if not isinstance(bytes_col, str) else F.col(bytes_col)
    out = df.withColumn("_wb", F.struct(writer.alias("w"), b.cast("long").alias("b")))
    win = (
        Window.partitionBy("_wb.w").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("_wb.b").over(win), F.lit(0).cast("long"))
    return (
        out.select(
            "*",
            F.col("_wb.w").cast("long").alias("writer"),
            F.col("_wb.b").alias("est_bytes"),
            F.floor(cum / shard_bytes).cast("long").alias("shard_idx"),
            (cum % shard_bytes).cast("long").alias("shard_offset"),
        )
        .drop("_wb")
        .withColumn(
            "shard_key",
            F.format_string("w%d-s%05d", F.col("writer"), F.col("shard_idx")),
        )
    )


# ----------------------------------------- north-rule per-row invariant -----
def verify_invariant(images: DataFrame, caption_fn=None) -> DataFrame:
    """Per-row emission invariant from the north rule: decoded pixels must
    match the independently re-derived ground truth — exact equality for
    lossless formats, PSNR >= 40 dB for lossy — and the caption must
    round-trip exactly.

    Ground truth is re-derived from the image_id alone (synth_pixels is
    the deterministic generator the fixture encodes), so the check is
    end-to-end over the stored bytes: any corruption in encode, storage,
    or decode fails it. Arrow-batched mapInPandas; the bytes column never
    crosses row-at-a-time.

    Returns (image_id, fmt, psnr double — NULL for exact lossless
    matches, pixels_ok, caption_ok).
    """
    schema = (
        "image_id string, fmt string, psnr double, "
        "pixels_ok boolean, caption_ok boolean"
    )
    cap_fn = caption_fn or (lambda i: f"synthetic scene {i}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                image_id = r.image_id
                base = image_id[:-4] if image_id.endswith("_dup") else image_id
                i = int(base.rsplit("_", 1)[1])
                truth = synth_pixels(base, int(r.w), int(r.h))
                dec = decode_image(bytes(r.bytes), r.fmt)
                if r.fmt == "png":
                    ok = dec.shape == truth.shape and bool(np.array_equal(dec, truth))
                    pv = None
                else:
                    pv = psnr(dec, truth)
                    ok = pv >= 40.0
                    pv = round(pv, 6)
                rows.append(
                    (image_id, r.fmt, pv, bool(ok), r.caption == cap_fn(i))
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "fmt", "psnr", "pixels_ok", "caption_ok"],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt", "caption").mapInPandas(
        run, schema
    )


# ----------------------------------------- WebDataset tar-shard sink --------
def write_webdataset(
    pairs: DataFrame,
    path: str,
    image_col: str = "bytes",
    caption_col: str = "caption",
    id_col: str = "image_id",
    n_writers: int = 8,
    shard_bytes: int = 4 * 1024 * 1024,
) -> DataFrame:
    """Materialize the :func:`shard_pack` layout as REAL WebDataset shards:
    one POSIX ustar archive per (writer, shard), each sample contributing
    two members named ``<id>.img`` (the image bytes) and ``<id>.txt``
    (the caption, UTF-8) — the tar-of-sample-files convention multimodal
    training loaders (webdataset/tarp) stream from.

    Each shard group is assembled and written BY ITS OWN TASK
    (applyInPandas per shard_key): the writer parallelism is the packing
    parallelism, nothing funnels through the driver, and a task's memory
    is bounded by ``shard_bytes`` + tar framing (512-byte headers +
    padding). Tar bytes are deterministic — members sorted by sample id,
    mtime/uid/gid pinned to 0, ustar format — so a shard's md5 is
    reproducible across runs and engines, and an object-store sink can
    dedup re-uploads by content hash.

    ``path`` must be storage every executor can reach (shared FS here;
    the ``open()`` two lines below are the seam where an object-store
    client plugs in).

    Returns the shard manifest (shard_key, n_samples, tar_bytes, tar_md5)
    — an action on it drives the writes exactly once.
    """
    import hashlib
    import io
    import os
    import tarfile

    os.makedirs(path, exist_ok=True)
    size = (F.length(F.col(image_col)) + F.length(F.col(caption_col))).cast("long")
    packed = shard_pack(
        pairs.select(
            F.col(id_col).cast("string").alias("image_id"),
            F.col(image_col).alias("img"),
            F.col(caption_col).cast("string").alias("caption"),
            size.alias("n_bytes"),
        ),
        "n_bytes",
        id_col="image_id",
        n_writers=n_writers,
        shard_bytes=shard_bytes,
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["shard_key"].iloc[0]
        pdf = pdf.sort_values("image_id")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for r in pdf.itertuples():
                for suffix, payload in (
                    (".img", bytes(r.img)),
                    (".txt", r.caption.encode("utf-8")),
                ):
                    info = tarfile.TarInfo(name=f"{r.image_id}{suffix}")
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tf.addfile(info, io.BytesIO(payload))
        data = buf.getvalue()
        with open(os.path.join(path, f"{key}.tar"), "wb") as fh:
            fh.write(data)
        return pd.DataFrame(
            {
                "shard_key": [key],
                "n_samples": [len(pdf)],
                "tar_bytes": [len(data)],
                "tar_md5": [hashlib.md5(data).hexdigest()],
            }
        )

    return packed.groupBy("shard_key").applyInPandas(
        write_shard,
        schema="shard_key string, n_samples long, tar_bytes long, tar_md5 string",
    )


def read_webdataset(spark, path: str) -> DataFrame:
    """Stream WebDataset shards back into the pair table: a ``binaryFile``
    scan (one row per shard — Spark's file-listing parallelism is the
    read parallelism) and an Arrow-batched tar parse that pairs each
    ``<id>.img`` member with its ``<id>.txt`` caption.

    Returns (shard_key, image_id, img binary, caption string, member_ord
    long — the member's position within its shard). Malformed pairs (an
    .img with no .txt twin) surface as NULL captions, never as dropped
    rows, so loss is observable downstream.
    """
    import io
    import os
    import tarfile

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                key = os.path.basename(r.path)
                key = key[:-4] if key.endswith(".tar") else key
                imgs, txts, order = {}, {}, {}
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(r.content)), mode="r:"
                ) as tf:
                    for ord_, m in enumerate(tf.getmembers()):
                        stem, ext = os.path.splitext(m.name)
                        payload = tf.extractfile(m).read()
                        if ext == ".img":
                            imgs[stem] = payload
                            order.setdefault(stem, ord_)
                        elif ext == ".txt":
                            txts[stem] = payload.decode("utf-8")
                            order.setdefault(stem, ord_)
                for stem in sorted(imgs):
                    out.append(
                        (key, stem, imgs[stem], txts.get(stem), order[stem])
                    )
            yield pd.DataFrame(
                out,
                columns=["shard_key", "image_id", "img", "caption", "member_ord"],
            )

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
        .mapInPandas(
            parse,
            "shard_key string, image_id string, img binary, "
            "caption string, member_ord long",
        )
    )


# ----------------------------------------- caption election per cluster -----
def caption_quality(
    pairs: DataFrame, caption_col: str = "caption"
) -> DataFrame:
    """Caption METRICS companion to :func:`curate_pairs`: where
    curate_pairs is the release gate (keep / first-failing-reason
    cascade), this op annotates WITHOUT deciding — the columns a corpus
    datasheet, a per-language mixing stage (UniMax/temperature over
    ``cap_lang``), or a quality-stratified sampler consume. Rules are
    the LAION release filters (Schuhmann et al. 2021), integerized where
    a ratio would drift between engines, with the windows curate_pairs
    does not carry (the 77-token CLIP text context, the alpha floor).

    Adds columns (pure codegen column algebra, zero shuffle, mirrored
    verbatim in the DuckDB oracle):

    - ``cap_n_chars`` / ``cap_n_tokens`` — length and whitespace token
      count (the LAION floor is 5 chars; this gate uses 10 and a
      3..77-token window, 77 = the CLIP text-encoder context);
    - ``cap_alpha_ok`` — at least half the characters are
      alphanumeric/space (2·alnum ≥ chars, integer cross-multiplied);
    - ``cap_has_url`` — http(s)/www in the caption (boilerplate alt-text
      like "visit www.site.com" supervises nothing);
    - ``cap_lang`` — the engine's lang-ID heuristic on the caption,
      riding along for per-language corpus mixing (NOT part of the keep
      rule: multilingual pair corpora keep non-English);
    - ``cap_keep`` — the conjunction.

    A model alignment score (CLIP similarity) slots in downstream AS
    DATA, exactly like ``model_score_gate``. ``cap_keep`` approximates
    curate_pairs' caption-side verdict for pipelines that want metrics
    and decision from one pass; the release pipeline's authoritative
    gate (which also names its reject reason and covers the image side)
    remains curate_pairs.
    """
    from web_crawler_spark.functions import text as TX

    # NULL captions behave as empty: every metric concrete (0 / False /
    # 'unknown'), never NULL — the header_audit rule ("a row that cannot
    # prove X never passes") holds for negated filters and boolean
    # aggregations over these columns too
    c = F.coalesce(F.col(caption_col), F.lit(""))
    n_chars = F.length(c)
    n_toks = TX.token_count(c)
    alpha_ok = (
        F.length(F.regexp_replace(c, r"[^A-Za-z0-9\s]", "")) * 2 >= n_chars
    )
    has_url = c.rlike(r"(https?://|www\.)")
    keep = (
        (n_chars >= 10) & (n_chars <= 512)
        & (n_toks >= 3) & (n_toks <= 77)
        & alpha_ok & ~has_url
    )
    return pairs.select(
        "*",
        n_chars.cast("long").alias("cap_n_chars"),
        n_toks.cast("long").alias("cap_n_tokens"),
        alpha_ok.alias("cap_alpha_ok"),
        has_url.alias("cap_has_url"),
        TX.lang_id(c).alias("cap_lang"),
        keep.alias("cap_keep"),
    )


def elect_captions(
    pairs: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    checkpoint: str = "local",
) -> DataFrame:
    """One canonical caption per image near-dup cluster (the LAION-style
    collapse step AFTER the hash vote): near-dup pairs rarely share a
    caption — the same photo circulates with different alt-texts — so
    dropping losers row-wise throws captions away at random. This elects
    deterministically instead: cluster = connected component of the
    confirmed pair graph (log-diameter hook+compress, never per-pair
    chains), electoral rule = LONGEST caption, ties broken by
    lexicographically smallest — engine-exact, no scoring model required
    (a model score would slot in as data, like model_score_gate).

    Plan: components over the dup pairs (pairs-sized, tiny vs corpus) →
    one corpus shuffle keyed by cluster, where the election is a
    map-side-combinable ``min(struct(-len, caption))`` and the stats ride
    the same aggregate → join back on the same key. Singletons (no dup
    edge) keep their own caption at zero extra cost.

    Returns one row per input image: (id, cluster_id, elected_caption,
    n_members, n_captions, is_rep) — filter ``is_rep`` for the collapsed
    corpus; keep the rest when provenance must survive the collapse.
    """
    from web_crawler_spark.operators.dedup import connected_min

    # ``checkpoint`` passes straight to connected_min: 'reliable' writes
    # each propagation round to the SparkContext checkpoint dir — the
    # setting a multi-hour 100 TB collapse wants (see connected_min docs)
    comp = connected_min(
        dup_pairs.select(
            F.col(dup_pairs.columns[0]).alias("a"),
            F.col(dup_pairs.columns[1]).alias("b"),
        ),
        checkpoint=checkpoint,
    )
    # no forced broadcast: the component table is dup-graph-sized, which
    # is usually small but NOT bounded (a 30%-dup corpus makes it corpus
    # scale) — AQE picks broadcast when it actually fits
    labeled = pairs.join(
        comp.select(F.col("node").alias(id_col),
                    F.col("component").alias("_comp")),
        id_col, "left",
    ).withColumn("cluster_id", F.coalesce(F.col("_comp"), F.col(id_col)))
    agg = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct(caption_col).alias("n_captions"),
        F.min(
            F.struct(
                (-F.length(caption_col)).alias("nl"),
                F.col(caption_col).alias("c"),
            )
        ).alias("_e"),
    )
    return labeled.join(agg, "cluster_id").select(
        F.col(id_col),
        "cluster_id",
        F.col("_e.c").alias("elected_caption"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_captions").cast("long").alias("n_captions"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_rep"),
    )


# ------------------------------- binary header audit (zero decode) ---------
# Magic-byte sniffing and fixed-layout header parsing as PURE COLUMN
# ALGEBRA (hex/substr/conv — whole-stage codegen, no UDF, no decode): the
# cheap corruption gate a 100 TB image ingest runs on every row BEFORE
# paying for a decode. A truncated download, a mislabeled payload, or a
# header whose dimensions disagree with the catalog metadata surfaces as
# data here, and the decode stage (images.image_features) only ever sees
# rows that passed. Reference seam: the crawler trusts the bytes it just
# fetched (image-extraction.service.js stores URLs, never validates
# payloads); at archive scale validation has to be a column, not a codec.
PNG_SIG_HEX = "89504E470D0A1A0A"
LOSSY_MAGIC_HEX = "4C514E54"  # b"LQNT", the deterministic lossy surrogate


def _be32(c, pos: int):
    """Big-endian uint32 at 1-based byte offset ``pos`` of a binary col."""
    return F.conv(F.hex(F.substr(c, F.lit(pos), F.lit(4))), 16, 10).cast("long")


def _u8(c, pos: int):
    return F.conv(F.hex(F.substr(c, F.lit(pos), F.lit(1))), 16, 10).cast("int")


def sniff_format(bytes_col):
    """Container format from magic bytes alone: 'png' | 'jpeg' | 'gif' |
    'webp' | 'lossy' (this engine's surrogate) | NULL (unrecognized).
    Spark's ``hex`` is uppercase; a payload shorter than a magic simply
    yields a shorter hex string and fails every equality — no length
    guards needed."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    hx = F.hex(F.substr(c, F.lit(1), F.lit(12)))
    return (
        F.when(F.substring(hx, 1, 16) == PNG_SIG_HEX, F.lit("png"))
        .when(F.substring(hx, 1, 6) == "FFD8FF", F.lit("jpeg"))
        .when(F.substring(hx, 1, 12).isin("474946383761", "474946383961"),
              F.lit("gif"))
        .when(
            (F.substring(hx, 1, 8) == "52494646")
            & (F.hex(F.substr(c, F.lit(9), F.lit(4))) == "57454250"),
            F.lit("webp"),
        )
        .when(F.substring(hx, 1, 8) == LOSSY_MAGIC_HEX, F.lit("lossy"))
        .otherwise(F.lit(None).cast("string"))
    )


def png_ihdr(bytes_col):
    """PNG IHDR fields from the fixed layout (RFC 2083: 8-byte signature,
    4-byte chunk length == 13, 'IHDR' tag, then w/h/bit_depth/color_type):
    struct(ihdr_ok, w, h, bit_depth, color_type). A signature-valid but
    truncated payload gets ihdr_ok = false and NULL fields — corruption is
    data, never a misparse."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    ok = (
        (F.length(c) >= 33)
        & (F.hex(F.substr(c, F.lit(1), F.lit(8))) == PNG_SIG_HEX)
        & (_be32(c, 9) == 13)
        & (F.hex(F.substr(c, F.lit(13), F.lit(4))) == "49484452")  # IHDR
    )
    return F.struct(
        ok.alias("ihdr_ok"),
        F.when(ok, _be32(c, 17)).alias("w"),
        F.when(ok, _be32(c, 21)).alias("h"),
        F.when(ok, _u8(c, 25)).alias("bit_depth"),
        F.when(ok, _u8(c, 26)).alias("color_type"),
    )


def gif_header(bytes_col):
    """GIF87a/89a logical-screen descriptor (fixed layout: 6-byte magic,
    then width and height as LITTLE-endian uint16 at offsets 7 and 9):
    struct(hdr_ok, w, h). The only little-endian field in the audit —
    composed from two byte reads, not a conv() of the hex slice."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    ok = (F.length(c) >= 10) & F.hex(F.substr(c, F.lit(1), F.lit(6))).isin(
        "474946383761", "474946383961"
    )
    w = _u8(c, 7) + F.lit(256) * _u8(c, 8)
    h = _u8(c, 9) + F.lit(256) * _u8(c, 10)
    return F.struct(
        ok.alias("hdr_ok"),
        F.when(ok, w.cast("long")).alias("w"),
        F.when(ok, h.cast("long")).alias("h"),
    )


def lossy_header(bytes_col):
    """Surrogate-codec header (LQNT magic + big-endian w, h at offsets
    5/9 — see encode_lossy): struct(hdr_ok, w, h)."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    ok = (F.length(c) >= 13) & (
        F.hex(F.substr(c, F.lit(1), F.lit(4))) == LOSSY_MAGIC_HEX
    )
    return F.struct(
        ok.alias("hdr_ok"),
        F.when(ok, _be32(c, 5)).alias("w"),
        F.when(ok, _be32(c, 9)).alias("h"),
    )


def header_audit(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Per-row payload audit over the input_hint table: sniffed format,
    header-declared dimensions, and agreement with the catalog's (w, h)
    metadata — all narrow column algebra (zero shuffles, zero Python,
    zero decodes), so it runs at scan speed over the full archive.

    Adds: sniffed (magic format or NULL), hdr_w/hdr_h (header dims where
    a known fixed layout exists: PNG IHDR, GIF logical screen, surrogate
    LQNT), hdr_bit_depth/
    hdr_color_type (PNG only), header_dims_ok (parsed AND equal to the
    metadata columns; false for unparseable payloads — a row that cannot
    prove its dimensions never passes)."""
    c = F.col(bytes_col)
    ih = png_ihdr(c)
    lh = lossy_header(c)
    gh = gif_header(c)
    hw = (
        F.when(ih["ihdr_ok"], ih["w"])
        .when(lh["hdr_ok"], lh["w"])
        .when(gh["hdr_ok"], gh["w"])
    )
    hh = (
        F.when(ih["ihdr_ok"], ih["h"])
        .when(lh["hdr_ok"], lh["h"])
        .when(gh["hdr_ok"], gh["h"])
    )
    parsed = ih["ihdr_ok"] | lh["hdr_ok"] | gh["hdr_ok"]
    # coalesce inside the when-branch: a parsed header compared against
    # NULL catalog w/h metadata must yield a concrete False, not NULL —
    # "a row that cannot prove its dimensions never passes" has to hold
    # for negated filters (~header_dims_ok) and boolean aggregations too
    dims_ok = F.when(
        parsed,
        F.coalesce((hw == F.col("w")) & (hh == F.col("h")), F.lit(False)),
    ).otherwise(F.lit(False))
    return images.select(
        "*",
        sniff_format(c).alias("sniffed"),
        hw.alias("hdr_w"),
        hh.alias("hdr_h"),
        F.when(ih["ihdr_ok"], ih["bit_depth"]).alias("hdr_bit_depth"),
        F.when(ih["ihdr_ok"], ih["color_type"]).alias("hdr_color_type"),
        dims_ok.alias("header_dims_ok"),
    )
