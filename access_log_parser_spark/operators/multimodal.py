"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, batching, partition shape) is real and
tested. Decode resolution order per payload:

1. PIL, if importable (not in this sandbox — gated behind a try-import);
2. :func:`parse_image_header` — pure-Python magic-byte parsing that
   reads width/height/format from PNG, JPEG, GIF and WebP (VP8/VP8L/
   VP8X) container headers without any library and without decoding
   pixel data — exactly what a 100-TB metadata pass wants anyway;
3. the deterministic md5 fake (``_decode_image_stub``) for unknown
   payloads, or a raised error when ``strict=True``.

Full pixel decode (resize bodies, model features, video frames) stays
stubbed: those need PIL/ffmpeg binaries this container lacks; the
mapInPandas contract (schema, batching, partition shape) is the real,
tested part and does not change when the body is swapped.
"""

from __future__ import annotations

import hashlib
import io as _io
import struct
from collections.abc import Iterator

try:  # pragma: no cover - not present in this container
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:
    _PIL_Image = None

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

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def binary_metadata(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """JVM-side metadata over a binary column: byte length + md5 digest.
    No Python, fully codegen'd — the cheap pre-filter before any decode."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.md5(F.col(bin_col)).alias("digest"),
    )


def parse_image_header(data: bytes) -> tuple[int, int, str] | None:
    """Read (width, height, format) from image container headers with no
    library and no pixel decode. Supports PNG, JPEG (any SOFn), GIF and
    the three WebP flavors. Returns None when the payload is not a
    recognized image."""
    n = len(data)
    # PNG: 8-byte magic, IHDR dims at offsets 16/20 (big-endian u32)
    if n >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", data[16:24])
        return w, h, "png"
    # GIF: 6-byte magic, logical-screen dims at 6/8 (little-endian u16)
    if n >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return w, h, "gif"
    # JPEG: walk marker segments to the first SOFn frame header
    if n >= 4 and data[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= n:
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if marker == 0xFF:  # fill byte: next 0xFF may start the marker
                i += 1
                continue
            if marker == 0x00:  # 0xFF00 stuffing — data byte, not a marker
                i += 2
                continue
            if marker in (0xDA, 0xD9):
                # SOS/EOI before any SOFn: entropy-coded data follows (or
                # the image ended); 0xFF bytes past here are scan data, not
                # markers — stop so corrupt layouts fall through to None
                # instead of returning garbage dims from a spurious SOFn.
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if i + 4 > n:
                break
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= n:
                    h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                    return w, h, "jpeg"
                break
            i += 2 + seg_len
        return None
    # WebP: RIFF container, dims depend on the first chunk type
    if n >= 30 and data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        chunk = data[12:16]
        if chunk == b"VP8 ":  # lossy: sync code then 14-bit dims
            if data[23:26] == b"\x9d\x01\x2a":
                w = struct.unpack("<H", data[26:28])[0] & 0x3FFF
                h = struct.unpack("<H", data[28:30])[0] & 0x3FFF
                return w, h, "webp"
        elif chunk == b"VP8L":  # lossless: packed 14-bit dims - 1
            if data[20] == 0x2F:
                bits = struct.unpack("<I", data[21:25])[0]
                return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "webp"
        elif chunk == b"VP8X":  # extended: 24-bit canvas dims - 1
            w = int.from_bytes(data[24:27], "little") + 1
            h = int.from_bytes(data[27:30], "little") + 1
            return w, h, "webp"
        return None
    return None


def _decode_image_stub(data: bytes) -> tuple[int, int, str]:
    """Deterministic fake decode for UNRECOGNIZED payloads: width/height/
    format derived from the md5 digest, so the pipeline shape is testable
    on arbitrary bytes. Recognized image headers never reach this."""
    h = hashlib.md5(data).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240, ("jpeg", "png", "webp")[h[2] % 3]


def _decode_one(raw: bytes, strict: bool) -> tuple[int, int, str]:
    if _PIL_Image is not None:  # pragma: no cover - library not in sandbox
        try:
            with _PIL_Image.open(_io.BytesIO(raw)) as im:
                return im.width, im.height, (im.format or "unknown").lower()
        except Exception:
            pass  # fall through to the header parser
    parsed = parse_image_header(raw)
    if parsed is not None:
        return parsed
    if strict:
        raise ValueError(
            "media decode failed: payload is not a recognized image and no "
            "media library (PIL/ffmpeg) is installed in this container"
        )
    return _decode_image_stub(raw)


def decode_media(
    df: DataFrame, id_col: str, bin_col: str, strict: bool = False
) -> DataFrame:
    """Arrow-batched decode stage: one mapInPandas pass, binary column in,
    typed metadata struct out. Real header-derived dimensions for
    recognized formats (see :func:`parse_image_header`); unknown payloads
    use the deterministic fake, or raise when ``strict=True``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[bin_col]):
                raw = bytes(data)
                w, hgt, fmt = _decode_one(raw, strict)
                rows.append(
                    (int(mid), len(raw), hashlib.md5(raw).hexdigest(), w, hgt, fmt)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "digest", "width", "height", "format"],
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        run, MEDIA_META_SCHEMA
    )


def _resize_one(raw: bytes, width: int, height: int) -> bytes:
    """Per-payload resize: real PIL decode+resize+PNG re-encode when the
    library is present, deterministic truncate/pad stub otherwise."""
    if _PIL_Image is not None:
        try:
            with _PIL_Image.open(_io.BytesIO(raw)) as im:
                buf = _io.BytesIO()
                im.resize((width, height)).save(buf, format="PNG")
                return buf.getvalue()
        except Exception:
            pass  # non-image payload: fall through to the stub
    target = width * height // 64  # fake byte budget
    return (raw * (target // max(len(raw), 1) + 1))[:target]


def _features_one(raw: bytes) -> list[float]:
    """Per-payload feature vector: with PIL, a real (if crude) visual
    feature — 4x4 grayscale thumbnail, mean-centered, unit-normalized;
    without, 16 deterministic floats from the md5 digest."""
    if _PIL_Image is not None:
        try:
            with _PIL_Image.open(_io.BytesIO(raw)) as im:
                px = list(im.convert("L").resize((4, 4)).getdata())
            mean = sum(px) / len(px)
            v = [float(p - mean) for p in px]
            norm = sum(x * x for x in v) ** 0.5 or 1.0
            return [x / norm for x in v]
        except Exception:
            pass  # non-image payload: fall through to the stub
    h = hashlib.md5(raw).digest()
    v = [(h[i] - 127.5) / 127.5 for i in range(FEATURE_DIM)]
    norm = sum(x * x for x in v) ** 0.5 or 1.0
    return [x / norm for x in v]


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_media(
    df: DataFrame, id_col: str, bin_col: str, width: int = 224, height: int = 224
) -> DataFrame:
    """Resize stage: binary in -> (dims, binary) out, one mapInPandas
    pass. When PIL is importable the payload is REALLY decoded, resized
    to (width, height) and re-encoded as PNG (see :func:`_resize_one`);
    otherwise the stub 'resize' truncates/pads the payload
    deterministically. Schema, batching and partition shape are identical
    in both modes, so the contract tests cover whichever mode the
    deployment has."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[bin_col]):
                raw = bytes(data)
                rows.append(
                    (int(mid), width, height, bytearray(_resize_one(raw, width, height)))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "payload"]
            )

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(run, RESIZE_SCHEMA)


FEATURE_DIM = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def extract_features(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Feature-extraction stage: binary -> fixed-dim unit float vector
    (Arrow-batched). When PIL is importable the vector is a REAL (if
    crude) visual feature (see :func:`_features_one`); otherwise 16
    deterministic floats derive from the md5 digest. A real model (CLIP
    et al.) replaces either body; downstream ANN/dedup operators consume
    the vector unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for mid, data in zip(pdf[id_col], pdf[bin_col]):
                ids.append(int(mid))
                vecs.append(_features_one(bytes(data)))
            yield pd.DataFrame({"media_id": ids, "features": vecs})

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(run, FEATURE_SCHEMA)


# ---------------------------------------------------------------- dHash
# 9x8 grayscale grid -> 64-bit difference hash (dHash, the standard
# cheap perceptual image fingerprint: bit (r, c) = grid[r][c+1] >
# grid[r][c]; near-duplicate images differ in a few bits). The GRID
# comes from the decode stage (PIL when importable, an md5-derived
# deterministic fake otherwise — same gating as decode_media); the hash
# and the near-dup join are pure Catalyst expressions so the hot path
# stays JVM-side and the DuckDB oracle can replay the fake end-to-end.
DHASH_W, DHASH_H = 9, 8

GRID_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("pixels", ArrayType(IntegerType())),
    ]
)


def _gray_grid_one(raw: bytes) -> list[int]:
    """9x8 grayscale thumbnail as 72 ints (row-major). PIL decodes for
    real when present; otherwise pixels are the first 72 bytes of the
    chained digest stream md5(raw) || md5(raw+0x01) || ... — fully
    deterministic and replayable in SQL (the oracle parses the same hex
    pairs), so the downstream dHash math is tested for real even where
    the decode is fake."""
    if _PIL_Image is not None:
        try:
            with _PIL_Image.open(_io.BytesIO(raw)) as im:
                return list(
                    im.convert("L").resize((DHASH_W, DHASH_H)).getdata()
                )
        except Exception:
            pass  # non-image payload: fall through to the stub
    need = DHASH_W * DHASH_H
    stream = b""
    i = 0
    while len(stream) < need:
        salted = raw if i == 0 else raw + bytes([i])
        stream += hashlib.md5(salted).digest()
        i += 1
    return [int(b) for b in stream[:need]]


def gray_grid(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Arrow-batched grayscale-grid decode: (media_id, pixels[72])."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, px = [], []
            for mid, data in zip(pdf[id_col], pdf[bin_col]):
                ids.append(int(mid))
                px.append(_gray_grid_one(bytes(data)))
            yield pd.DataFrame({"media_id": ids, "pixels": px})

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        run, GRID_SCHEMA
    )


def dhash_bands(pixels_col) -> F.Column:
    """64-bit dHash packed as FOUR 16-bit band ints (array<long>, band b
    holds bits 16b..16b+15) — the banded form the pigeonhole near-dup
    join needs anyway, and it sidesteps signed-64 overflow at bit 63.
    Bit k (k = r*8 + c) is set when grid[r][c+1] > grid[r][c]; the whole
    hash is ONE unrolled Catalyst expression (64 comparisons), no
    Python."""
    p = pixels_col

    def bit(r: int, c: int) -> F.Column:
        # element_at is 1-based; row stride is DHASH_W (9)
        return (
            F.element_at(p, r * DHASH_W + c + 2)
            > F.element_at(p, r * DHASH_W + c + 1)
        ).cast("long")

    bands = []
    for b in range(4):
        acc = F.lit(0).cast("long")
        for j in range(16):
            k = b * 16 + j
            r, c = divmod(k, 8)
            acc = acc + bit(r, c) * F.lit(1 << j).cast("long")
        bands.append(acc)
    return F.array(*bands)


def dhash_media(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """binary -> (media_id, bands array<long>[4], dhash_hex): the
    perceptual fingerprint stage. dhash_hex is the conventional 16-hex
    rendering (band 3 = most significant)."""
    g = gray_grid(df, id_col, bin_col)
    withb = g.select("media_id", dhash_bands(F.col("pixels")).alias("bands"))
    hexed = F.concat(
        *[
            F.lpad(F.hex(F.element_at(F.col("bands"), i)), 4, "0")
            for i in (4, 3, 2, 1)
        ]
    )
    return withb.select(
        "media_id", "bands", F.lower(hexed).alias("dhash_hex")
    )


def dhash_near_dup(
    hashes: DataFrame, max_hamming: int = 6, id_col: str = "media_id"
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance, via the
    pigeonhole band join (the same shape as the SimHash pigeonhole in
    dedup.py): candidates must agree EXACTLY on at least one of the 4
    16-bit bands. By pigeonhole this is GUARANTEED complete for
    max_hamming <= 3 (4 bands can't each hold a differing bit); for the
    default 6 it misses only pairs whose differing bits touch all four
    bands — the standard recall/cost trade of banded LSH, identical to
    the text SimHash path's contract.

    Candidates = exact match on (band_idx, band_value) — an equi-join on
    the exploded band table, NEVER an all-pairs product; verification =
    summed bit_count(xor) over the 4 bands, a pure expression.

    Returns (id_a, id_b, hamming) with id_a < id_b, deduped.

    Plan at 100 TB: one explode (4x), one band-keyed exchange for the
    self-join, distinct on the bounded candidate set, expression-only
    verify — the same cost envelope as the text SimHash path."""
    b = hashes.select(
        F.col(id_col).alias("id"),
        F.col("bands"),
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
    left = b.select(
        F.col("id").alias("id_a"),
        F.col("bands").alias("ba"),
        "band_idx",
        "band_val",
    )
    right = b.select(
        F.col("id").alias("id_b"),
        F.col("bands").alias("bb"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ba", "bb")
        .distinct()
    )
    ham = (
        F.bit_count(
            F.element_at("ba", 1).bitwiseXOR(F.element_at("bb", 1))
        )
        + F.bit_count(
            F.element_at("ba", 2).bitwiseXOR(F.element_at("bb", 2))
        )
        + F.bit_count(
            F.element_at("ba", 3).bitwiseXOR(F.element_at("bb", 3))
        )
        + F.bit_count(
            F.element_at("ba", 4).bitwiseXOR(F.element_at("bb", 4))
        )
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
