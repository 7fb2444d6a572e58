"""Multimodal binary-column plumbing: decode gating, frame sampling shape,
and the real stdlib PNG decode path."""

import pytest

from mbgspark.operators.multimodal import decode_image, frame_sample


def _media(spark):
    # media_id is bigint by contract (FEATURE_SCHEMA) — ids come from doc_id
    return spark.createDataFrame(
        [(1, "image/png", b"x" * 3000), (2, "audio/wav", b"hello")],
        "media_id long, media_type string, content binary",
    )


def test_decode_gated_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)
    feats = decode_image(b"abc", fake=True)
    assert len(feats) == 8 and feats == decode_image(b"abc", fake=True)


def test_frame_sample_shape(spark):
    rows = frame_sample(_media(spark), every_n=1).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    # 3000 bytes -> ceil fake frame count 3; 5 bytes -> 1 frame
    assert by_id[1] == [0, 1, 2]
    assert by_id[2] == [0]


def test_real_decode_matches_fake_contract_when_pil_present(spark):
    """VERDICT r5 item 6: the real Pillow decode path, importorskip-gated
    — same 8-dim output shape and FEATURE_SCHEMA as the fake oracle
    path, deterministic on a 2x2 RGB fixture. Skipped in this container
    (no Pillow); the day the dependency appears this drives the real
    decode end-to-end through mapInPandas."""
    import io

    import pytest

    PIL = pytest.importorskip("PIL")
    from PIL import Image

    from mbgspark.operators.multimodal import decode_image, extract_features

    # the 2x2 fixture: known pixels -> exactly computable features
    im = Image.new("RGB", (2, 2))
    im.putdata([(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)])
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    png = buf.getvalue()

    feats = decode_image(png, fake=False)
    assert len(feats) == 8
    assert feats[0] == feats[1] == 2 / 4096  # width, height
    assert abs(feats[2] - 510 / (255.0 * 4)) < 1e-9  # mean R
    assert abs(feats[3] - 510 / (255.0 * 4)) < 1e-9  # mean G
    assert abs(feats[4] - 510 / (255.0 * 4)) < 1e-9  # mean B
    assert abs(feats[5] - 0.114) < 1e-9  # min luminance (pure blue)
    assert abs(feats[6] - 1.0) < 1e-9  # max luminance (white)
    # deterministic: same bytes -> same vector
    assert decode_image(png, fake=False) == feats

    df = spark.createDataFrame(
        [(1, "image", bytearray(png), None, None, None)],
        "media_id bigint, media_type string, content binary, "
        "width int, height int, sample_rate int",
    )
    real = extract_features(df, fake_decode=False)
    fake = extract_features(df, fake_decode=True)
    # schema-identical paths; fake stays the oracle
    assert real.schema == fake.schema
    row = real.collect()[0]
    assert row["feat"] == feats
    assert row["n_bytes"] == len(png)


def test_real_decode_raises_naming_fake_path_without_pil():
    """Without Pillow the real path must fail fast with the message that
    names the oracle alternative — not deep inside a Spark task."""
    import importlib.util

    import pytest

    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("Pillow installed; the gated-raise contract is moot")
    from mbgspark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="fake=True"):
        decode_image(b"\x89PNG not really", fake=False)


def _make_png(width, height, pixels, color_type=2, filters=None):
    """Build a PNG byte-for-byte with stdlib only (zlib + struct): the
    test-side twin of _decode_png, so the REAL decode path runs un-gated
    in this container. ``pixels`` is row-major (r, g, b[, a]) tuples;
    ``filters`` optionally names the per-row filter byte to exercise
    Sub/Up/Average/Paeth reconstruction."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color_type]

    def chunk(ctype, data):
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = bytearray(width * channels)
    for row in range(height):
        line = bytearray()
        for x in range(width):
            px = pixels[row * width + x]
            line.extend(px[:channels] if channels > 1 else px[:1])
        f = (filters or [0] * height)[row]
        enc = bytearray(line)
        for i in reversed(range(len(line))):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - (a + b) // 2) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pr) & 0xFF
        raw.append(f)
        raw.extend(enc)
        prev = line
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_decode_runs_ungated_on_stdlib_png(spark):
    """The REAL decode path executes IN THIS CONTAINER via the stdlib PNG
    tier: the 2x2 RGB fixture produces exactly the feature values the
    Pillow-gated test pins, end-to-end through mapInPandas, and every PNG
    filter type reconstructs correctly (Paeth/Sub/Up/Average round-trip
    against the known pixels)."""
    from mbgspark.operators.multimodal import decode_image, extract_features

    pixels = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    png = _make_png(2, 2, pixels)
    feats = decode_image(png, fake=False)
    assert len(feats) == 8
    assert feats[0] == feats[1] == 2 / 4096
    assert abs(feats[2] - 510 / (255.0 * 4)) < 1e-9
    assert abs(feats[3] - 510 / (255.0 * 4)) < 1e-9
    assert abs(feats[4] - 510 / (255.0 * 4)) < 1e-9
    assert abs(feats[5] - 0.114) < 1e-9  # min luminance (pure blue)
    assert abs(feats[6] - 1.0) < 1e-9  # max luminance (white)
    assert decode_image(png, fake=False) == feats  # deterministic

    # same pixels through every filter type -> same features
    for f in (1, 2, 3, 4):
        assert decode_image(
            _make_png(2, 2, pixels, filters=[f, f]), fake=False
        ) == feats
    # RGBA drops alpha exactly like PIL convert("RGB")
    rgba = [(255, 0, 0, 10), (0, 255, 0, 200), (0, 0, 255, 0), (255, 255, 255, 255)]
    assert decode_image(_make_png(2, 2, rgba, color_type=6), fake=False) == feats
    # greyscale replicates channels
    grey = decode_image(
        _make_png(1, 1, [(128,)], color_type=0), fake=False
    )
    assert abs(grey[2] - 128 / 255.0) < 1e-9
    assert grey[2] == grey[3] == grey[4]

    df = spark.createDataFrame(
        [(1, "image", bytearray(png), None, None, None)],
        "media_id bigint, media_type string, content binary, "
        "width int, height int, sample_rate int",
    )
    real = extract_features(df, fake_decode=False)
    fake = extract_features(df, fake_decode=True)
    assert real.schema == fake.schema  # fake stays the oracle surface
    row = real.collect()[0]
    assert row["feat"] == feats
    assert row["n_bytes"] == len(png)


def test_corrupt_png_surfaces_documented_value_error():
    """A PNG-signed byte string with corrupt internals must surface the
    DOCUMENTED error (ValueError from _decode_png, NotImplementedError
    naming the fake path from decode_image) — never a raw zlib.error or
    struct.error escaping a mapInPandas task (ADVICE r7)."""
    import importlib.util
    import struct
    import zlib

    import pytest

    from mbgspark.operators.multimodal import _decode_png, decode_image

    def chunk(ctype, data):
        c = ctype + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    sig = b"\x89PNG\r\n\x1a\n"
    # corrupt IDAT: well-framed chunk whose payload is not a zlib stream
    bad_idat = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"notzlib") + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="pixel stream"):
        _decode_png(bad_idat)
    # short IHDR: unpack would raise struct.error without the wrap
    short_ihdr = sig + chunk(b"IHDR", b"\x00\x00\x00") + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="chunk structure"):
        _decode_png(short_ihdr)
    # truncated mid-stream zlib (valid prefix, cut off)
    good = zlib.compress(bytes(bytearray(2 * (2 * 3 + 1))))
    trunc = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", good[: len(good) // 2]) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        _decode_png(trunc)
    if importlib.util.find_spec("PIL") is None:
        # the public surface maps all of these to the documented raise
        for blob in (bad_idat, short_ihdr, trunc):
            with pytest.raises(NotImplementedError, match="fake=True"):
                decode_image(blob, fake=False)
