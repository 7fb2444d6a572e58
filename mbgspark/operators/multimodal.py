"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decoding tiers (r7): Pillow when installed (any format); a stdlib-only
PNG decoder (``_decode_png`` — zlib + struct over the public PNG spec)
for 8-bit grey/RGB/RGBA non-interlaced PNGs, which runs FOR REAL in this
container and is pinned un-gated in tests; and for everything else the
loud NotImplementedError naming ``fake=True`` — the deterministic fake
decoder (derived only from the bytes) that the catalog queries and
DuckDB oracles pin. The Spark-side plumbing a 100 TB multimodal pipeline
needs — binary schema, Arrow batch shape, UDF signatures,
partition-preserving mapInPandas — is real in every tier.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, media_type string, content binary, "
    "width int, height int, sample_rate int"
)

FEATURE_SCHEMA = (
    "media_id bigint, media_type string, n_bytes bigint, content_hash string, "
    "feat array<double>"
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(content: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Minimal stdlib PNG decoder (public spec: RFC 2083 / W3C PNG): 8-bit
    greyscale (color type 0), RGB (2), and RGBA (6), non-interlaced, all
    five scanline filters. Returns (width, height, RGB pixel list) with
    the same channel values Pillow's ``convert("RGB")`` yields (alpha is
    dropped, grey replicates) — pinned against Pillow's numbers in
    tests/test_multimodal.py. Raises ValueError on anything outside this
    envelope; callers map that to the fake-path guidance."""
    import struct
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG signature")
    pos, ihdr, idat = 8, None, b""
    # corrupt-but-signed PNGs must still surface as ValueError (the
    # documented envelope error), not raw struct.error / zlib.error
    # leaking out of mapInPandas tasks (ADVICE r7)
    try:
        while pos + 8 <= len(content):
            (length,), ctype = struct.unpack(">I", content[pos:pos + 4]), content[pos + 4:pos + 8]
            data = content[pos + 8:pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + length  # length + type + data + crc
    except struct.error as exc:
        raise ValueError(f"corrupt PNG chunk structure: {exc}") from exc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if channels is None or depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG shape (color={color}, depth={depth}, "
            f"interlace={interlace})"
        )
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG pixel stream: {exc}") from exc
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG pixel data truncated")
    prev = bytearray(stride)
    px: list[tuple[int, int, int]] = []
    for row in range(h):
        base = row * (stride + 1)
        f, line = raw[base], bytearray(raw[base + 1:base + 1 + stride])
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0  # left
            b = prev[i]  # up
            c = prev[i - channels] if i >= channels else 0  # up-left
            if f == 1:
                line[i] = (line[i] + a) & 0xFF
            elif f == 2:
                line[i] = (line[i] + b) & 0xFF
            elif f == 3:
                line[i] = (line[i] + (a + b) // 2) & 0xFF
            elif f == 4:  # Paeth predictor
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
            elif f != 0:
                raise ValueError(f"unknown PNG filter {f}")
        for x in range(w):
            o = x * channels
            if channels == 1:
                px.append((line[o], line[o], line[o]))
            else:  # RGB / RGBA: alpha dropped, matching PIL convert("RGB")
                px.append((line[o], line[o + 1], line[o + 2]))
        prev = line
    return w, h, px


def decode_image(content: bytes, fake: bool = False) -> list[float]:
    """Decode an image to an 8-dim feature vector.

    ``fake=True`` — the ORACLE path: a deterministic vector derived only
    from the raw bytes (md5 prefix), stable across runs/engines; this is
    what the catalog queries and DuckDB oracles pin.

    ``fake=False`` — the REAL path: decodes through Pillow when it is
    installed (any format); without Pillow, PNGs inside ``_decode_png``'s
    stdlib envelope (8-bit grey/RGB/RGBA, non-interlaced) decode for real
    via zlib — same pixels, same features, exercised un-gated in this
    container — and anything else raises NotImplementedError naming the
    fake path. The feature vector is [width/4096, height/4096, mean R,
    mean G, mean B, min luminance, max luminance, mean luminance], all in
    [0, 1] and deterministic for a given image."""
    if fake:
        digest = hashlib.md5(content).digest()
        return [b / 255.0 for b in digest[:8]]
    try:
        from PIL import Image
    except ImportError:
        Image = None
    if Image is None:
        try:
            w, h, px = _decode_png(content)
        except ValueError as exc:
            raise NotImplementedError(
                "image codecs are not installed in this environment and the "
                "bytes are outside the stdlib PNG envelope; "
                "use fake=True for the deterministic stub"
            ) from exc
    else:
        import io

        with Image.open(io.BytesIO(content)) as im:
            rgb = im.convert("RGB")
            w, h = rgb.size
            px = list(rgb.getdata())
    n = len(px) or 1
    lum = [(0.299 * p[0] + 0.587 * p[1] + 0.114 * p[2]) / 255.0 for p in px]
    return [
        min(w, 4096) / 4096.0,
        min(h, 4096) / 4096.0,
        sum(p[0] for p in px) / (255.0 * n),
        sum(p[1] for p in px) / (255.0 * n),
        sum(p[2] for p in px) / (255.0 * n),
        min(lum, default=0.0),
        max(lum, default=0.0),
        sum(lum) / n,
    ]


def extract_features(df: DataFrame, fake_decode: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary media rows.

    Arrow ships each partition as pandas batches; the UDF is pure
    (bytes → features), so the operation is embarrassingly parallel and
    partition-preserving — no shuffle."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": content.map(lambda b: len(b) if b is not None else 0),
                    "content_hash": content.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                    "feat": content.map(
                        lambda b: decode_image(b, fake=fake_decode) if b is not None else None
                    ),
                }
            )

    return df.mapInPandas(_extract, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index.
    Frame decode is stubbed (NotImplementedError path in decode_image); the
    row-explosion shape (posexplode over a computed frame index sequence) is
    the real part."""
    n_frames = (F.length(F.col("content")) / 1024).cast("int") + 1  # fake frame count
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )
