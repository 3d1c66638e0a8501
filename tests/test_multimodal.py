"""Multimodal plumbing: binary payload column + Arrow-batched decode."""

from __future__ import annotations

import pytest

from tower_parse_spark.operators import multimodal as M


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello"), (2, "a much longer document body here")],
        "doc_id long, text string",
    )


def test_payload_is_binary(docs):
    df = M.with_payload(docs)
    assert dict(df.dtypes)["payload"] == "binary"


def test_decode_stub_deterministic():
    meta = M.decode_stub(b"hello")
    assert meta == {"n_bytes": 5, "width": 16 + 5, "height": 16 + 35, "format": "webp"}


def test_decode_real_without_pillow_names_the_dependency():
    """Where Pillow is absent the error must name the optional dep (not
    a bare executor-side ImportError) for every payload outside the
    dependency-free set (P6 PPM and PNG) — including the magic bytes of
    GIF, WebP, JPEG, BMP, TIFF (both byte orders) and ICO; where
    present, decode_real is the real decoder and the skip-gated test
    below covers it."""
    try:
        import PIL  # noqa: F401
    except ImportError:
        payloads = [
            b"x",
            b"GIF89a" + bytes(16),
            b"RIFF\x10\x00\x00\x00WEBPVP8L" + bytes(16),
            b"\xff\xd8" + bytes(16),
            b"BM" + bytes(16),
            b"II*\x00" + bytes(16),
            b"MM\x00*" + bytes(16),
            b"\x00\x00\x01\x00\x01\x00" + bytes(16),
        ]
        for payload in payloads:
            with pytest.raises(NotImplementedError, match="pillow"):
                M.decode_real(payload)
            with pytest.raises(NotImplementedError, match="pillow"):
                M.phash_real(payload)
    else:
        pytest.skip("Pillow installed — covered by the real-decode test")


def test_decode_real_with_pillow(spark):
    """Real PNG decode through the full Arrow/mapInPandas path (runs
    wherever the optional Pillow dependency is installed)."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (20, 10), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    assert M.decode_real(png) == {
        "n_bytes": len(png), "width": 20, "height": 10, "format": "png"
    }
    df = spark.createDataFrame([(1, png)], "doc_id long, payload binary")
    out = M.decode_payloads(df, decoder=M.decode_real).collect()
    assert [
        (r["doc_id"], r["width"], r["height"], r["format"]) for r in out
    ] == [(1, 20, 10, "png")]


def test_decode_payloads_distributed(docs):
    out = {r["doc_id"]: r for r in M.decode_payloads(M.with_payload(docs)).collect()}
    assert out[1]["n_bytes"] == 5
    assert out[2]["n_bytes"] == 32
    assert out[2]["format"] == ["png", "jpeg", "webp"][32 % 3]
    assert set(out[1].asDict()) == {"doc_id", "n_bytes", "width", "height", "format"}


def test_phash_stub_deterministic_and_length_keyed():
    assert M.phash_stub(b"hello") == M.phash_stub(b"xxxxx")  # same length
    assert 0 <= M.phash_stub(b"hello") < (1 << M.PHASH_BITS)
    assert M.phash_stub(b"hello") != M.phash_stub(b"hello!")


def test_with_phash_matches_stub(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "defgh")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in M.with_phash(M.with_payload(df)).collect()}
    assert out[1].phash == M.phash_stub(b"abc") and out[1].n_bytes == 3
    assert out[2].phash == M.phash_stub(b"defgh")


def test_phash_near_dup_band_recall(spark):
    """Hamming <= 3 pairs are ALWAYS found (pigeonhole on 4x8 bands);
    Hamming > max is dropped even when a band collides."""
    base = 0b1010_1100_0011_0101_1111_0000_0110_1001
    rows = [
        (1, base),
        (2, base),  # hamming 0
        (3, base ^ 0b111),  # hamming 3, all flips in band 0
        (4, base ^ (1 << 0) ^ (1 << 9) ^ (1 << 17)),  # 3 flips, 3 bands
        (5, base ^ (1 << 0) ^ (1 << 9) ^ (1 << 17) ^ (1 << 25)),  # 4 flips
        (6, ~base & 0xFFFFFFFF),  # complement: no shared band
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in M.phash_near_dup_pairs(df).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 3 and pairs[(1, 4)] == 3
    assert (1, 5) not in pairs  # hamming 4 > max, despite band collision
    assert (1, 6) not in pairs and (2, 3) in pairs


def test_phash_real_with_pillow(spark):
    """Real dHash path: an image and its lightly-noised copy land within
    the Hamming threshold; a very different image does not."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    def png(pixels):
        im = Image.new("L", (16, 8))
        im.putdata(pixels)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        return buf.getvalue()

    grad = [x * 16 for y in range(8) for x in range(16)]
    noisy = [min(255, v + (i % 3)) for i, v in enumerate(grad)]
    flat = [128] * (16 * 8)
    a, b, c = M.phash_real(png(grad)), M.phash_real(png(noisy)), M.phash_real(png(flat))
    assert bin(a ^ b).count("1") <= M.PHASH_MAX_HAMMING
    assert a != c


def test_phash_vectorized_matches_scalar():
    lens = [0, 1, 5, 97, 98, 1000, None, 31, 64]
    vec = M._phash_stub_vectorized(lens)
    for ln, v in zip(lens, vec):
        if ln is None:
            assert v is None
        else:
            assert v == M.phash_stub(b"x" * ln)


def test_phash_band_blocking_at_64_bits_with_sign_bit(spark):
    """The corpus-scale configuration (64-bit hash, 4x16-bit bands):
    banding and bit_count(xor) scoring must be sign-agnostic — a hash
    with bit 63 set rides a negative long through shift/mask/xor on
    both engines."""
    base = M._signed64((1 << 63) | 0x1234_5678_9ABC_DEF0)
    rows = [
        (1, base),
        (2, base),  # hamming 0, negative long
        (3, M._signed64((base & ((1 << 64) - 1)) ^ 0b101)),  # hamming 2
        (4, M._signed64((~base) & ((1 << 64) - 1))),  # complement
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in M.phash_near_dup_pairs(
            df, max_hamming=3, bits=64, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 2
    assert (1, 4) not in pairs and (2, 4) not in pairs


def _ppm(width, height, pixel_fn, comment=False):
    """Synthesize a binary P6 payload: pixel_fn(x, y) -> (r, g, b)."""
    header = b"P6\n"
    if comment:
        header += b"# synthetic test image\n"
    header += f"{width} {height}\n255\n".encode()
    raster = bytearray()
    for y in range(height):
        for x in range(width):
            raster.extend(pixel_fn(x, y))
    return header + bytes(raster)


def test_decode_ppm_real_pixels_no_optional_deps():
    """r13: P6 PPM decodes for REAL (header parse + numpy raster) with
    zero optional dependencies — actual dimensions from actual pixel
    data, including a commented header, through decode_real's
    dispatch."""
    p = _ppm(20, 10, lambda x, y: (x, y, 0), comment=True)
    want = {"n_bytes": len(p), "width": 20, "height": 10, "format": "ppm"}
    assert M.decode_ppm(p) == want
    assert M.decode_real(p) == want  # dispatch, no Pillow needed


def test_decode_ppm_rejects_malformed():
    import pytest as _pytest

    good = _ppm(4, 3, lambda x, y: (1, 2, 3))
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_ppm(good[:-5])  # raster cut short
    with _pytest.raises(ValueError, match="maxval"):
        M.decode_ppm(b"P6\n4 3\n65535\n" + b"\x00" * 72)
    with _pytest.raises(ValueError, match="dimensions"):
        M.decode_ppm(b"P6\n0 3\n255\n")
    with _pytest.raises(ValueError, match="P6"):
        M.decode_ppm(b"P5\n4 3\n255\n" + b"\x00" * 12)


def test_decode_real_ppm_through_arrow_path(spark):
    """The real-decode mapInPandas path, HERMETIC: real pixels flow
    through the Arrow batches in this container (the Pillow-gated twin
    of this test needs the optional dep; this one always runs)."""
    p1 = _ppm(20, 10, lambda x, y: (x * 12, 0, 0))
    p2 = _ppm(33, 7, lambda x, y: (0, y * 30, 255))
    df = spark.createDataFrame(
        [(1, p1), (2, p2)], "doc_id long, payload binary"
    )
    out = {
        r["doc_id"]: r
        for r in M.decode_payloads(df, decoder=M.decode_real).collect()
    }
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (20, 10, "ppm")
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (33, 7, "ppm")


def test_phash_ppm_tracks_real_gradients():
    """The numpy dHash must respond to actual pixel structure: a
    left-to-right brightening gradient sets NO bits (left cell always
    darker), the mirrored gradient sets ALL 32, identical payloads
    collide, and a small local edit moves few bits (the near-dup
    property the Hamming-band blocking is built on)."""
    brighter = _ppm(36, 16, lambda x, y: (x * 7, x * 7, x * 7))
    darker = _ppm(36, 16, lambda x, y: ((35 - x) * 7,) * 3)
    assert M.phash_ppm(brighter) == 0
    assert M.phash_ppm(darker) == 0xFFFFFFFF
    assert M.phash_real(brighter) == 0  # dispatch without Pillow
    assert M.phash_ppm(brighter) == M.phash_ppm(
        _ppm(36, 16, lambda x, y: (x * 7, x * 7, x * 7))
    )
    # tweak one pixel: a REAL near-duplicate stays within a small
    # Hamming distance of the original
    tweaked = bytearray(brighter)
    tweaked[-1] = 255
    d = bin(M.phash_ppm(brighter) ^ M.phash_ppm(bytes(tweaked))).count("1")
    assert d <= 2


def test_phash_real_pillow_branch_shares_the_ppm_kernel(monkeypatch):
    """ADVICE r13: the Pillow branch must hash through the SAME resize
    kernel as the PPM branch (_dhash_rgb), so identical pixel content
    in different container formats cannot band differently. Pinned
    hermetically with a fake in-process Pillow whose decode yields the
    exact pixels of a matching PPM: the two phash_real calls must be
    bit-identical."""
    import sys
    import types

    import numpy as np

    w, h = 24, 12
    px = lambda x, y: ((x * 11) % 256, (y * 23) % 256, ((x + y) * 5) % 256)
    ppm = _ppm(w, h, px)
    _, _, rgb = M._parse_ppm(ppm)

    class _FakeImage:
        def __init__(self, arr):
            self._arr = arr

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def convert(self, mode):
            assert mode == "RGB"
            return self._arr  # np.asarray() of an ndarray is itself

    fake_image_mod = types.SimpleNamespace(
        open=lambda buf: _FakeImage(rgb)
    )
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)

    fake_png = b"\x89PNG-not-really" + bytes(16)  # non-P6: Pillow branch
    assert not fake_png.startswith(b"P6")
    assert M.phash_real(fake_png) == M.phash_ppm(ppm)
    # and the kernel responds to real structure through the fake too
    grad = _ppm(w, h, lambda x, y: (x * 10, x * 10, x * 10))
    _, _, grad_rgb = M._parse_ppm(grad)
    monkeypatch.setattr(
        fake_image_mod, "open", lambda buf: _FakeImage(grad_rgb)
    )
    assert M.phash_real(fake_png) == M.phash_ppm(grad) == 0


def _filter_rows(px, filters):
    """Filter one scanline run (whole image or one Adam7 pass) — the
    encoder half of the five PNG filters, independent of the decoder."""
    import numpy as np

    h, w, bpp = px.shape
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int64)
        f = filters[y % len(filters)]
        if f == 0:
            enc = cur
        elif f == 1:
            a = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = cur - a
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            a = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = cur - ((a + prev) >> 1)
        elif f == 4:
            enc = np.zeros_like(cur)
            for x in range(w * bpp):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = cur[x] - pred
        else:
            raise ValueError(f)
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    return raw


def _png(rgb, color_type=2, filters=None, palette=None, interlace=False):
    """Hand-rolled PNG encoder for fixtures (spec-only, stdlib zlib):
    8-bit depth, per-row filter types chosen by the test so every
    decode filter path (None/Sub/Up/Average/Paeth) is exercised against
    an independent implementation; *interlace* emits Adam7 passes, each
    filtered independently over its reduced grid (r15)."""
    import struct
    import zlib

    import numpy as np

    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w = rgb.shape[:2]
    if color_type == 2:
        px = rgb
    elif color_type == 0:
        px = rgb[:, :, :1]
    elif color_type == 6:
        px = np.concatenate(
            [rgb, np.full((h, w, 1), 200, dtype=np.uint8)], axis=2
        )
    elif color_type == 3:
        flat = rgb.reshape(-1, 3)
        pal, inv = np.unique(flat, axis=0, return_inverse=True)
        palette = pal
        px = inv.reshape(h, w, 1).astype(np.uint8)
    else:
        raise ValueError(color_type)
    filters = filters or [0] * h
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in M._ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += _filter_rows(sub, filters)
    else:
        raw = _filter_rows(px, filters)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    out = M._PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", palette.astype("uint8").tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_parse_png_all_filters_roundtrip():
    """The hermetic PNG decoder recovers exact pixels through every
    filter type and color type (encoder is an independent
    implementation of the same public spec)."""
    import numpy as np

    rng = [(x * 13 % 251, (y * 7 + x) % 251, (x ^ y) % 251)
           for y in range(10) for x in range(9)]
    rgb = np.array(rng, dtype=np.uint8).reshape(10, 9, 3)
    for filters in ([0] * 10, [1] * 10, [2] * 10, [3] * 10, [4] * 10,
                    [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]):
        w, h, got = M._parse_png(_png(rgb, filters=filters))
        assert (w, h) == (9, 10)
        assert (got == rgb).all(), f"filters={filters}"
    # gray replicates, RGBA drops alpha, palette maps through PLTE
    gray = np.repeat(rgb[:, :, :1], 3, axis=2)
    assert (M._parse_png(_png(gray, color_type=0))[2] == gray).all()
    assert (M._parse_png(_png(rgb, color_type=6))[2] == rgb).all()
    small = (rgb // 64) * 64  # few distinct colors -> valid palette
    assert (M._parse_png(_png(small, color_type=3))[2] == small).all()


def test_decode_png_real_and_malformed():
    import numpy as np
    import pytest as _pytest

    rgb = np.zeros((5, 7, 3), dtype=np.uint8)
    p = _png(rgb)
    want = {"n_bytes": len(p), "width": 7, "height": 5, "format": "png"}
    assert M.decode_png(p) == want
    assert M.decode_real(p) == want  # dispatch, no Pillow needed
    with _pytest.raises(ValueError, match="not a PNG"):
        M.decode_png(b"JFIF-nope")
    with _pytest.raises(ValueError, match="truncated"):
        M.decode_png(p[:-20])  # cuts into the IDAT chunk, not just IEND
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    # r15 late: EVERY legal depth decodes (16-bit via high-byte
    # rescale, 1/2/4-bit via MSB-first bit groups); an illegal depth
    # value is malformed
    sixteen = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(sixteen)["width"] == 2
    assert (M._parse_png(sixteen)[2] == 0).all()
    four_bit = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x0f" * 2))
        + chunk(b"IEND", b"")
    )
    got = M._parse_png(four_bit)[2]
    assert (got[:, 0, 0] == 0).all() and (got[:, 1, 0] == 255).all()
    bad_depth = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 4))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="bit depth"):
        M.decode_png(bad_depth)
    # r15: Adam7 is DECODED now — a 2x2 interlaced RGB image needs 15
    # raster bytes (passes 1/6/7), so 14 is a malformed length, and an
    # interlace method beyond 0/1 is malformed outright
    interlaced_short = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="length mismatch"):
        M.decode_png(interlaced_short)
    bad_method = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="interlace method"):
        M.decode_png(bad_method)


def test_adam7_interlaced_png_decodes_identically():
    """r15: an Adam7-interlaced PNG of the same pixels decodes EXACTLY
    like the non-interlaced one (independent test-side pass split +
    per-pass filtering vs the decoder's scatter), across color types,
    all five filters inside passes, odd dimensions smaller than one
    8x8 pass cell, and through the real-decode dispatch + dHash."""
    import numpy as np

    rng = np.random.default_rng(7)
    for h, w in ((16, 24), (5, 3), (1, 1), (9, 17)):
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ct in (2, 0, 6, 3):
            base = M._parse_png(_png(rgb, color_type=ct))
            inter = M._parse_png(
                _png(rgb, color_type=ct, interlace=True,
                     filters=[0, 1, 2, 3, 4])
            )
            assert base[:2] == inter[:2] == (w, h)
            assert np.array_equal(base[2], inter[2]), (h, w, ct)
    # same pixels, either interlace mode -> the same perceptual hash
    rgb = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    assert M.phash_real(bytes(_png(rgb))) == M.phash_real(
        bytes(_png(rgb, interlace=True))
    )
    meta = M.decode_real(bytes(_png(rgb, interlace=True)))
    assert (meta["width"], meta["height"]) == (32, 24)


def test_png_and_ppm_same_pixels_same_hash():
    """The ADVICE r13 cross-format promise, now testable END-TO-END
    hermetically: identical pixel content in a PPM and a PNG container
    hashes to identical dHash bits through phash_real (both decoders ->
    the one _dhash_rgb kernel), so cross-format near-dup banding can
    never miss a pair on container format."""
    import numpy as np

    w, h = 24, 12
    px = lambda x, y: ((x * 11) % 256, (y * 23) % 256, ((x + y) * 5) % 256)
    ppm = _ppm(w, h, px)
    _, _, rgb = M._parse_ppm(ppm)
    png = _png(rgb, filters=[1, 2, 3, 4, 0, 1, 2, 3, 4, 0, 1, 2])
    assert M.phash_real(png) == M.phash_ppm(ppm)
    # and the hash tracks real structure through the PNG path too
    grad = np.repeat(
        np.repeat(np.arange(0, 240, 10, dtype=np.uint8)[None, :, None], h, 0),
        3, 2,
    )
    assert M.phash_real(_png(grad)) == 0  # left always darker


def test_decode_real_png_through_arrow_path(spark):
    """PNG through the real-decode mapInPandas path, hermetic — the
    compressed-format twin of the PPM Arrow test (r14: the Pillow gate
    now covers only JPEG/WebP-class formats)."""
    import numpy as np

    p1 = _png(np.zeros((10, 20, 3), dtype=np.uint8))
    p2 = _ppm(33, 7, lambda x, y: (0, y * 30, 255))
    df = spark.createDataFrame(
        [(1, p1), (2, p2)], "doc_id long, payload binary"
    )
    out = {
        r["doc_id"]: r
        for r in M.decode_payloads(df, decoder=M.decode_real).collect()
    }
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (20, 10, "png")
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (33, 7, "ppm")


def test_png_dispatch_error_contract():
    """Review r14 contract, r15-late state: EVERY legal PNG depth and
    color type decodes hermetically, so the PNG entry has no
    valid-but-unsupported class left (the NotImplementedError-naming-
    pillow contract for other formats is exercised by
    test_decode_real_without_pillow_names_the_dependency); malformed
    payloads stay ValueError through the dispatch."""
    import sys

    import numpy as np
    import pytest as _pytest

    if "PIL" in sys.modules or _has_pil():
        _pytest.skip("Pillow installed — the gated branch never runs")

    with _pytest.raises(ValueError, match="truncated"):
        M.decode_real(_png(np.zeros((2, 2, 3), dtype=np.uint8))[:-20])
    # a once-gated payload class now just decodes through decode_real
    four = np.array([[[0, 0, 0]]], dtype=np.uint8)
    assert M.decode_real(_png(four))["format"] == "png"


def _has_pil():
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_parse_png_rejects_bomb_and_bad_chunks():
    """Review r14: the inflate is bounded by the declared raster size
    (a tiny payload declaring 1x1 but carrying a huge compressed stream
    must fail fast as a length mismatch, not materialize gigabytes);
    non-13-byte IHDR and out-of-range palette indices are ValueError,
    not struct.error / IndexError."""
    import struct
    import zlib

    import pytest as _pytest

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    bomb = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (64 * 1024 * 1024), 9))
        + chunk(b"IEND", b"")
    )
    assert len(bomb) < 256 * 1024  # highly compressible: a real bomb shape
    with _pytest.raises(ValueError, match="length mismatch"):
        M._parse_png(bomb)

    short_ihdr = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIB", 1, 1, 8))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="IHDR length"):
        M._parse_png(short_ihdr)

    # palette index 5 with a 2-entry PLTE
    raster = zlib.compress(b"\x00" + bytes([0, 5]))
    oob = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes(6))
        + chunk(b"IDAT", raster)
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="palette index"):
        M._parse_png(oob)


def test_parse_png_roundtrip_property():
    """Property: decode(encode(img)) == img for arbitrary sizes, pixel
    content, per-row filter choices, and color types — the two
    implementations are independent readings of the same public spec,
    so agreement across the randomized space pins both."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 23),
        h=st.integers(1, 17),
        seed=st.integers(0, 2**31 - 1),
        color=st.sampled_from([0, 2, 3, 6]),
        fseed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed, color, fseed):
        rng = np.random.RandomState(seed)
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        if color == 0:  # gray container: all channels equal
            rgb = np.repeat(rgb[:, :, :1], 3, axis=2)
        if color == 3:  # palette container: <=256 distinct colors
            rgb = (rgb // 52) * 52
        filters = list(np.random.RandomState(fseed).randint(0, 5, size=h))
        got_w, got_h, got = M._parse_png(_png(rgb, color_type=color, filters=filters))
        assert (got_w, got_h) == (w, h)
        assert (got == rgb).all()

    check()


def test_png_16bit_roundtrip_all_color_types():
    """r15 late: 16-bit PNGs decode via the high-byte rescale; filters
    act at the doubled per-pixel byte distance, and v*257 encoding
    means the high byte IS the 8-bit value — exact round-trips."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc))

    rng = np.random.default_rng(16)

    def png16(samples, color):
        h, w = samples.shape[:2]
        ch = samples.shape[2]
        wide = (samples.astype(">u2") * 257).tobytes()
        stride = w * ch * 2
        raw = b"".join(
            b"\x01" if y % 2 else b"\x00"  # alternate None/Sub filters
            for y in range(h)
        )
        # rebuild rows with the chosen filters applied byte-wise
        rows = []
        for y in range(h):
            row = wide[y * stride : (y + 1) * stride]
            if y % 2:  # Sub at bpp = ch*2
                bpp = ch * 2
                enc = bytearray(row)
                for x in range(stride - 1, bpp - 1, -1):
                    enc[x] = (enc[x] - row[x - bpp]) & 0xFF
                rows.append(b"\x01" + bytes(enc))
            else:
                rows.append(b"\x00" + row)
        assert raw is not None
        return (
            M._PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, color,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b"")
        )

    rgb = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    assert (M._parse_png(png16(rgb, 2))[2] == rgb).all()
    gray = rng.integers(0, 256, (3, 6, 1), dtype=np.uint8)
    got = M._parse_png(png16(gray, 0))[2]
    assert (got[:, :, 0] == gray[:, :, 0]).all()
    rgba = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
    assert (M._parse_png(png16(rgba, 6))[2] == rgba[:, :, :3]).all()


def test_png_sub8bit_roundtrip():
    """r15 late: 1/2/4-bit gray and palette PNGs decode — MSB-first
    bit groups, partial trailing bytes, the gray ladder scaled to full
    range, palette by raw index; interlaced 1-bit too."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc))

    rng = np.random.default_rng(4)

    def pack_rows(vals, depth, w):
        rows = []
        for r in vals:
            bits = np.zeros(((w * depth + 7) // 8) * 8, np.uint8)
            for x in range(w):
                for i in range(depth):
                    bits[x * depth + i] = (r[x] >> (depth - 1 - i)) & 1
            rows.append(b"\x00" + np.packbits(bits).tobytes())
        return b"".join(rows)

    def png(vals, depth, color, plte=b"", interlace=0):
        h, w = vals.shape
        body = pack_rows(vals, depth, w)
        if interlace:
            # single-pass-relevant tiny images: w,h <= 4 keeps every
            # pixel in passes with simple geometry? use full builder
            # instead: encode pass-by-pass
            parts = []
            for x0, y0, dx, dy in M._ADAM7:
                sub = vals[y0::dy, x0::dx]
                if sub.size == 0:
                    continue
                parts.append(pack_rows(sub, depth, sub.shape[1]))
            body = b"".join(parts)
        out = (M._PNG_SIG
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth,
                                            color, 0, 0, interlace)))
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(body)) \
            + chunk(b"IEND", b"")

    for depth in (1, 2, 4):
        vals = rng.integers(0, 1 << depth, (5, 11), dtype=np.uint8)
        got = M._parse_png(png(vals, depth, 0))[2]
        want = (vals.astype(np.uint16) * 255 // ((1 << depth) - 1))
        assert (got[:, :, 0] == want.astype(np.uint8)).all(), depth
    # 4-bit palette: raw indexes into PLTE
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 7), dtype=np.uint8)
    got = M._parse_png(png(idx, 4, 3, plte=pal.tobytes()))[2]
    assert (got == pal[idx]).all()
    # interlaced 1-bit gray
    bw = rng.integers(0, 2, (10, 9), dtype=np.uint8)
    plain = M._parse_png(png(bw, 1, 0))[2]
    inter = M._parse_png(png(bw, 1, 0, interlace=1))[2]
    assert (plain == inter).all()
