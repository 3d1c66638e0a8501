"""Multimodal columns: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column (or a pointer to object storage) next to a typed
metadata struct; run decode / feature-extraction / resize / frame-sample
as Arrow-batched Pandas functions over ``mapInPandas`` so each task
processes whole record batches without JVM<->Python per-row cost.

The registry queries use the STUBBED decode: ``decode_stub`` derives
deterministic fake metadata from the bytes. ``decode_real`` decodes P6
PPM and PNG with numpy + stdlib and hands every other format to the
optional Pillow dependency. The Spark-side plumbing —
schema, batch iteration, partition behavior — is real and
oracle-checked (queries/llm.py::multimodal_decode).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string"
)


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of *text_col* as the
    opaque payload column (deterministic; real tables would carry actual
    image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake 'image decode': metadata derived from bytes.

    Stands in for e.g. PIL.Image.open(io.BytesIO(payload)); the derived
    fields are arithmetic on the byte length so the full mapInPandas
    pipeline has an exact SQL oracle.
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 16 + n % 64,
        "height": 16 + (n * 7) % 64,
        "format": ["png", "jpeg", "webp"][n % 3],
    }


def _parse_ppm(payload: bytes):
    """Parse a binary PPM (P6) image with NO third-party decoder: the
    format is a whitespace-delimited ASCII header (magic, width, height,
    maxval, ``#`` comments allowed) followed by raw RGB bytes — the
    classic uncompressed interchange format, decodable from the public
    netpbm spec alone. Returns ``(width, height, HxWx3 uint8 ndarray)``;
    raises ValueError on anything malformed (wrong magic, maxval > 255,
    truncated pixel data)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # tokenize the header: fields separated by whitespace, # starts a
    # comment through end-of-line (netpbm spec)
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(payload[start:pos])
    try:
        width, height, maxval = (int(f) for f in fields)
    except ValueError as exc:
        raise ValueError(f"non-numeric PPM header fields {fields}") from exc
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported PPM maxval {maxval} (8-bit only)")
    pos += 1  # exactly ONE whitespace byte after maxval (spec)
    need = width * height * 3
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(
            f"PPM raster truncated: need {need} bytes, have {len(raster)}"
        )
    import numpy as np

    return width, height, np.frombuffer(raster, dtype=np.uint8).reshape(
        height, width, 3
    )


def decode_ppm(payload: bytes) -> dict:
    """REAL decode of a binary PPM (P6) payload — same contract as
    :func:`decode_stub` / :func:`decode_real`, zero optional
    dependencies (header parse + numpy reshape, :func:`_parse_ppm`).
    Exists so the real-decode path is exercisable HERMETICALLY in
    containers without Pillow: actual pixels, actual dimensions, not
    length arithmetic."""
    width, height, _ = _parse_ppm(payload)
    return {
        "n_bytes": len(payload),
        "width": width,
        "height": height,
        "format": "ppm",
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


class UnsupportedPngError(ValueError):
    """A VALID PNG using features the hermetic decoder omits — since
    r15-late every legal depth (1/2/4/8/16) and color type decodes, so
    only not-yet-assigned color-type values land here. Distinct from
    plain ValueError (malformed payload) so callers can tell a valid
    but undecodable PNG from a corrupt one."""


#: Adam7 pass grid: (x origin, y origin, x step, y step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_png(raw: bytes, w: int, h: int, bpp: int):
    """Un-filter one PNG scanline run (a whole non-interlaced image, or
    one Adam7 pass) of ``h`` rows at ``w`` pixels x ``bpp`` bytes:
    all five filter types; Sub vectorizes as a mod-256 cumsum, Up as a
    running add, Average/Paeth scan per byte as the spec defines them.
    Returns an (h, w*bpp) uint8 array."""
    import numpy as np

    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)], dtype=np.uint8
        ).astype(np.int64)
        if ftype == 0:
            cur = row
        elif ftype == 1:  # Sub: mod-256 cumsum per channel lane
            cur = np.cumsum(row.reshape(w, bpp), axis=0).reshape(stride)
        elif ftype == 2:  # Up
            cur = row + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential by spec
            cur = np.zeros(stride, dtype=np.int64)
            pv = prev.astype(np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = pv[x]
                if ftype == 3:
                    cur[x] = row[x] + ((a + b) >> 1)
                else:
                    c = pv[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = row[x] + pred
                cur[x] &= 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        prev = (cur & 0xFF).astype(np.uint8)
        out[y] = prev
    return out


def _parse_png(payload: bytes):
    """Parse an 8/16-bit-depth PNG (interlaced or not; 16-bit samples
    rescale to 8 via their high byte) with NO third-party
    decoder — the spec (RFC 2083 / ISO 15948) plus stdlib ``zlib`` is
    enough: signature, chunk walk (IHDR / PLTE / IDAT+ / IEND), inflate
    the concatenated IDAT stream, un-filter scanlines (all five filter
    types: None/Sub/Up/Average/Paeth; Adam7 passes un-filter
    independently and scatter onto the full grid — r15), map the
    color type to RGB
    (gray replicated, palette indexed via PLTE, alpha DISCARDED — the
    same channel drop ``PIL.Image.convert("RGB")`` applies, so the
    hermetic pixels match a Pillow decode bit-for-bit and both feed the
    shared :func:`_dhash_rgb` kernel identically). Returns ``(width,
    height, HxWx3 uint8 ndarray)``; raises ValueError on anything
    malformed (truncated, bad lengths) and UnsupportedPngError on the
    valid-but-unsupported sub-8-bit depths. Pure
    Python + numpy: the Sub filter vectorizes as a mod-256 cumsum,
    Up as a running add; Average/Paeth fall back to a per-pixel scan —
    fine for the fixture-scale payloads this hermetic path exists for
    (a Pillow install takes over decode speed-wise when present;
    pixels, and therefore hashes, are identical either way)."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = len(_PNG_SIG), None, None, []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # len + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError(f"bad PNG IHDR length {length}")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length == 0 or length % 3:
                raise ValueError(f"bad PNG PLTE length {length}")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    if comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG (comp={comp}, filter_method={filt})")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"invalid PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise UnsupportedPngError(f"unknown PNG color type {color}")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is invalid (spec 11.2.2)")
    if depth < 8 and color not in (0, 3):
        raise ValueError(
            f"sub-8-bit PNG requires gray/palette (color {color})"
        )
    sampb = max(depth // 8, 1)  # bytes/sample; filters act on BYTES
    # per-PIXEL byte filter distance (spec 9.2: 1 for sub-byte depths)
    bpp = channels * sampb

    def row_bytes(pw):
        return (pw * channels * depth + 7) // 8

    if interlace == 1:
        # Adam7 (r15): seven sub-images, each its own filtered scanline
        # run over the pass's reduced grid (filtering restarts per pass)
        dims = [
            (-(-(w - x0) // dx) if w > x0 else 0,
             -(-(h - y0) // dy) if h > y0 else 0)
            for x0, y0, dx, dy in _ADAM7
        ]
        expected = sum(
            ph * (row_bytes(pw) + 1) for pw, ph in dims if pw and ph
        )
    else:
        expected = h * (row_bytes(w) + 1)
    # bound the inflate to the declared raster size BEFORE materializing
    # anything: a tiny payload can declare a 1x1 IHDR yet carry a
    # multi-GB compressed stream (decompression bomb) — cap at
    # expected+1 so over-length is detected without allocating it
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    # max_length=expected+1 makes BOTH failure modes read as a length
    # mismatch: a short stream inflates to < expected, an over-long one
    # returns exactly expected+1 bytes (and no more)
    if len(raw) != expected:
        raise ValueError("PNG raster length mismatch")
    def to_samples(rows, pw, ph):
        # byte rows -> (ph, pw, channels) uint8 samples. 16-bit
        # reduces to its big-endian HIGH byte (the round-down 16->8
        # rescale: v >> 8); sub-byte depths unpack MSB-first bit
        # groups (spec 7.2), raw values — gray scaling happens at the
        # color-type mapping, palette uses the raw index.
        if depth >= 8:
            a = rows.reshape(ph, pw, channels, sampb)
            return a[:, :, :, 0]
        bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
        vals = bits.reshape(ph, pw, depth)
        out = np.zeros((ph, pw), dtype=np.uint8)
        for i in range(depth):
            out |= vals[:, :, i] << (depth - 1 - i)
        return out[:, :, None]

    if interlace == 1:
        px = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, dims):
            if not pw or not ph:
                continue
            size = ph * (row_bytes(pw) + 1)
            # _unfilter_png takes (pixels-per-row, bytes-per-pixel);
            # for sub-byte depths bpp=1 and the "pixel" count is the
            # packed byte count — row_bytes // bpp covers both
            sub = _unfilter_png(
                raw[off:off + size], row_bytes(pw) // bpp, ph, bpp
            )
            off += size
            px[y0::dy, x0::dx, :] = to_samples(sub, pw, ph)
    else:
        px = to_samples(
            _unfilter_png(raw, row_bytes(w) // bpp, h, bpp), w, h
        )
    if depth < 8 and color == 0:
        # scale the 1/2/4-bit gray ladder to full range
        px = (px.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    if color == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif color == 2:
        rgb = px
    elif color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        if int(px.max()) >= len(plte):
            raise ValueError(
                f"PNG palette index {int(px.max())} out of range "
                f"({len(plte)} entries)"
            )
        rgb = plte[px[:, :, 0]]
    elif color == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # color == 6
        rgb = px[:, :, :3]
    return w, h, np.ascontiguousarray(rgb)


def decode_png(payload: bytes) -> dict:
    """REAL decode of a PNG payload with NO optional dependency
    (:func:`_parse_png` — stdlib zlib + numpy), same contract as
    :func:`decode_stub` / :func:`decode_real`. Removes the Pillow gate
    for the most common compressed interchange format (r14; the gate
    had stood since r5 for all compressed formats, PPM-only since
    r13)."""
    width, height, _ = _parse_png(payload)
    return {
        "n_bytes": len(payload),
        "width": width,
        "height": height,
        "format": "png",
    }


def _pillow_image(caller: str):
    """``PIL.Image`` for the formats without a dependency-free decoder.
    Where Pillow is absent, raise NotImplementedError naming the
    optional dependency instead of a bare executor-side ImportError."""
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            f"{caller} needs the optional 'pillow' dependency for "
            "formats other than P6 PPM and PNG (pip install pillow); "
            "the stub path is the dependency-free default"
        ) from exc
    return Image


def decode_real(payload: bytes) -> dict:
    """Real image decode behind the same contract as
    :func:`decode_stub` (n_bytes / width / height / format). P6 PPM
    and PNG payloads decode with NO optional dependency
    (:func:`decode_ppm` / :func:`decode_png` — numpy + stdlib, real
    pixels); every other format needs Pillow, whose import is gated:
    where it is absent, the call raises NotImplementedError naming
    the dependency."""
    import io

    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    Image = _pillow_image("decode_real")
    with Image.open(io.BytesIO(payload)) as im:
        return {
            "n_bytes": len(payload),
            "width": im.width,
            "height": im.height,
            "format": (im.format or "unknown").lower(),
        }


def decode_batches(
    it: Iterator[pd.DataFrame], decoder=decode_stub
) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: whole Arrow batches in, decoded metadata out."""
    for pdf in it:
        metas = [decoder(p) for p in pdf["payload"]]
        out = pd.DataFrame(metas)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def decode_payloads(df_with_payload: DataFrame, decoder=decode_stub) -> DataFrame:
    """Distributed decode: Arrow-batched Pandas over every partition.
    *decoder* picks the per-payload function — :func:`decode_stub`
    (hermetic default, exact SQL oracle) or :func:`decode_real`.

    Memory shape: each Arrow batch materializes
    ``maxRecordsPerBatch × avg payload bytes`` per task — the engine's
    session caps the row count at 1024 (session.py) so 1 MB images
    bound at ~1 GB/batch; a caller-owned session (the driver's plain
    one) rides Spark's 10k default, safe for the fixture's KB payloads
    but a real-image deployment must set the cap to
    ``target_batch_bytes / avg_payload_bytes``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return decode_batches(it, decoder=decoder)

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema=DECODED_SCHEMA
    )


# ---- resize / feature-extract / frame-sample (same stub pattern) ----------

PIPELINE_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, format string, "
    "resized_w int, resized_h int, resized_bytes long, "
    "feat array<double>, frame_offsets array<long>"
)


def resize_stub(meta: dict, target_w: int, target_h: int) -> dict:
    """Deterministic fake resize: new byte size scales with pixel ratio
    (stands in for PIL Image.resize + re-encode)."""
    scale = (target_w * target_h) / max(meta["width"] * meta["height"], 1)
    return {
        "resized_w": target_w,
        "resized_h": target_h,
        "resized_bytes": int(meta["n_bytes"] * scale),
    }


def features_stub(payload: bytes, dim: int = 4) -> list[float]:
    """Deterministic fake embedding: arithmetic on the byte length
    (stands in for a CNN/CLIP feature extractor)."""
    n = len(payload)
    return [float((n * (j + 3)) % 97) / 97.0 for j in range(dim)]


def frame_sample_stub(payload: bytes, n_frames: int = 3) -> list[int]:
    """Deterministic fake video frame sampling: n byte offsets spread
    evenly (stands in for ffmpeg keyframe extraction)."""
    n = len(payload)
    return [(n * k) // n_frames for k in range(n_frames)]


def pipeline_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: decode -> resize(32x32) -> features -> frames
    in ONE Python pass per Arrow batch (no per-stage JVM round trip)."""
    for pdf in it:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            meta = decode_stub(p)
            meta.update(resize_stub(meta, 32, 32))
            meta["feat"] = features_stub(p)
            meta["frame_offsets"] = frame_sample_stub(p)
            meta["doc_id"] = doc_id
            rows.append(meta)
        out = pd.DataFrame(rows)
        yield out[
            [
                "doc_id",
                "n_bytes",
                "width",
                "height",
                "format",
                "resized_w",
                "resized_h",
                "resized_bytes",
                "feat",
                "frame_offsets",
            ]
        ]


def process_payloads(df_with_payload: DataFrame) -> DataFrame:
    """Full multimodal pipeline, Arrow-batched, one shuffle-free pass."""
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        pipeline_batches, schema=PIPELINE_SCHEMA
    )


# ---- perceptual-hash near-duplicate detection (dHash family) --------------

#: perceptual-hash width; 4 bands guarantee exact recall at Hamming
#: distance <= 3 (pigeonhole: 3 flipped bits leave >= 1 band intact).
#: 32 bits / 8-bit bands is the oracle-checked fixture configuration;
#: band BUCKETS number bands x 2^band_bits, so at corpus scale the
#: band width must grow with n or buckets saturate into a candidate
#: blowup (256 slot values hold ~n/256 docs each at 8 bits) — the
#: 100 TB deployment is 64-bit hashes with 16-bit bands (65k slot
#: values per band), measured at 500k payloads (SCALE.md, "Measured
#: headroom").
PHASH_BITS = 32
PHASH_BANDS = 4
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_MAX_HAMMING = 3


def _signed64(h: int) -> int:
    """Wrap an unsigned bit pattern into the signed int64 Spark longs
    carry (bit 63 set -> negative); band extraction and bit_count(xor)
    are sign-agnostic on both engines."""
    return h - (1 << 64) if h >= 1 << 63 else h


def phash_stub(payload: bytes, bits: int = PHASH_BITS) -> int:
    """Deterministic fake perceptual hash: bit j derived arithmetically
    from the byte length (stands in for dHash over the decoded,
    32x32-resized grayscale — :func:`phash_real`). Identical payloads
    hash identically (Hamming 0), so exact image copies are found; the
    arithmetic form gives the whole distributed pipeline an exact SQL
    oracle, the same contract as :func:`decode_stub`."""
    n = len(payload)
    h = 0
    for j in range(bits):
        if ((n * (2 * j + 3)) % 97) % 2:
            h |= 1 << j
    return _signed64(h)


def phash_ppm(payload: bytes) -> int:
    """Real 32-bit dHash over a P6 PPM payload with numpy only (the
    Krawetz difference hash, same bit layout as :func:`phash_real`):
    ITU-R 601 luma, 9x4 area resize by block means over linspace
    boundaries, bit = left cell brighter than its right neighbour.
    Hermetic — actual pixel comparisons, no Pillow — so the real-hash
    path (and its Hamming-band blocking downstream) is testable in
    this container on real gradients, not just byte-length stubs."""
    _, _, rgb = _parse_ppm(payload)
    return _dhash_rgb(rgb)


def _dhash_rgb(rgb) -> int:
    """The ONE dHash kernel every real-hash path shares (ADVICE r13):
    HxWx3 uint8 array -> ITU-R 601 luma -> 9x4 area resize by block
    means over linspace boundaries -> bit = left cell brighter than its
    right neighbour. Pillow-decoded compressed formats feed the SAME
    kernel as P6 PPM payloads, so identical pixel content hashes
    identically regardless of container format or whether Pillow is
    installed — cross-format near-dup banding never depends on which
    decoder ran (pinned by test_multimodal.py's fake-Pillow kernel
    test)."""
    import numpy as np

    luma = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    )
    h_px, w_px = luma.shape
    ys = np.linspace(0, h_px, 5).astype(int)
    xs = np.linspace(0, w_px, 10).astype(int)
    cells = np.empty((4, 9))
    for r in range(4):
        for c in range(9):
            block = luma[ys[r] : max(ys[r + 1], ys[r] + 1),
                         xs[c] : max(xs[c + 1], xs[c] + 1)]
            cells[r, c] = block.mean()
    h = 0
    for r in range(4):
        for c in range(8):
            if cells[r, c] > cells[r, c + 1]:
                h |= 1 << (r * 8 + c)
    return h


def phash_real(payload: bytes) -> int:
    """Real 32-bit dHash (Krawetz's difference hash, public
    methodology): decode to RGB pixels, then the shared
    :func:`_dhash_rgb` kernel (luma, 9x4 block-mean resize, left>right
    bits). P6 PPM and PNG payloads decode with NO optional dependency
    (:func:`phash_ppm`, :func:`_parse_png`); every other format needs
    Pillow, behind the same gated import as :func:`decode_real` — and
    in every case the RESIZE KERNEL is the numpy one (Pillow only
    decodes; it never resizes), so the same pixel content in any
    container hashes to the same bits and cross-format near-dup
    banding cannot miss pairs on a kernel mismatch. Exercised under
    importorskip where Pillow exists, and against a fake in-process
    Pillow everywhere."""
    import io

    import numpy as np

    if payload.startswith(b"P6"):
        return phash_ppm(payload)
    if payload.startswith(_PNG_SIG):
        return _dhash_rgb(_parse_png(payload)[2])
    Image = _pillow_image("phash_real")
    with Image.open(io.BytesIO(payload)) as im:
        return _dhash_rgb(np.asarray(im.convert("RGB")))


def _phash_stub_vectorized(lens, bits: int = PHASH_BITS) -> list:
    """The stub arithmetic over a WHOLE Arrow batch of byte lengths in
    one numpy expression — bit-identical to per-row :func:`phash_stub`
    (asserted in tests; int64 shifts wrap bit 63 into the sign exactly
    like :func:`_signed64`), and what makes the stub path measure the
    distributed plumbing instead of a Python inner loop. None lengths
    (NULL payloads) pass through as None."""
    import numpy as np

    ln = np.array([0 if v is None else v for v in lens], dtype=np.int64)
    j = np.arange(bits, dtype=np.int64)
    with np.errstate(over="ignore"):
        h = ((((ln[:, None] * (2 * j + 3)) % 97) % 2) << j).sum(axis=1)
    return [None if v is None else int(x) for v, x in zip(lens, h)]


def with_phash(
    df_with_payload: DataFrame, hasher=phash_stub, bits: int = PHASH_BITS
) -> DataFrame:
    """Distributed perceptual hashing: decode -> resize -> hash per
    payload inside ONE Arrow-batched mapInPandas stage (the real path
    does all three in :func:`phash_real`; the stub derives the hash
    from the bytes directly — vectorized across the batch). Output:
    (doc_id, n_bytes, phash)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # NULL payloads (e.g. a NULL text encoded to a NULL binary) hash
        # to NULL instead of crashing the worker; their band keys are
        # NULL downstream and never join — the same drop the SQL twin's
        # NULL propagation produces
        for pdf in it:
            lens = [
                None if p is None else len(p) for p in pdf["payload"]
            ]
            if hasher is phash_stub:
                ph = _phash_stub_vectorized(lens, bits)
            else:
                ph = [
                    None if p is None else hasher(p)
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": lens,
                    "phash": ph,
                }
            )

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, n_bytes long, phash long"
    )


def phash_band_keys(phash_col: str, bits: int = PHASH_BITS,
                    bands: int = PHASH_BANDS):
    """The ONE band-key expression (array of ``bands`` slot-tagged
    band values) shared by the batch pairing operator below AND the
    streaming index (streaming/phash_index.py) — their exact-recall /
    verdict-parity guarantee depends on the two sides banding
    BIT-IDENTICALLY, so the expression lives once (review r15)."""
    band_bits = bits // bands
    return F.array(
        *[
            F.lit(b * (1 << band_bits))
            + F.shiftright(
                F.col(phash_col), b * band_bits
            ).bitwiseAND(F.lit((1 << band_bits) - 1))
            for b in range(bands)
        ]
    )


def phash_near_dup_pairs(
    df_with_phash: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = PHASH_MAX_HAMMING,
    bits: int = PHASH_BITS,
    bands: int = PHASH_BANDS,
) -> DataFrame:
    """Image near-duplicate pairs via Hamming-band blocking on the
    perceptual hash (the SimHash band machinery applied to image
    fingerprints — Manku et al. 2007): split the *bits*-wide hash into
    *bands* equal bands, explode to (band slot, id, phash), self-join
    per band bucket, score ``bit_count(xor)``. Candidate generation is
    linear in |docs| x bands and recall is EXACT for Hamming <= bands-1
    (pigeonhole); the shuffle carries (id, 1 long), never payloads.

    SIZE THE BANDS TO THE CORPUS: buckets number bands x 2^(bits/bands),
    and a bucket holds ~n / 2^(bits/bands) docs — at 8-bit bands that
    saturates past ~100k docs (256 slot values) into a quadratic
    candidate blowup. The default 32/4 matches the oracle fixture; the
    corpus-scale configuration is bits=64, bands=4 (16-bit slots, 65k
    values — measured at 500k payloads, SCALE.md "Measured headroom").
    Negative longs (bit 63 set) band and score correctly: shift+mask
    and bit_count(xor) are sign-agnostic on both engines.

    The phash relation comes out of a Python (Arrow) stage, so it is
    localCheckpointed before the two join legs — without the barrier
    the mapInPandas decode/hash stage re-runs per leg (the fan-out rule
    every two-consumer relation in the tree follows).

    Hamming is scored and thresholded BEFORE the pair dedup (r16,
    guide §2.3 "shuffle fewer bytes"): the filter commutes with
    ``dropDuplicates`` because hamming is a pure function of (ph1, ph2)
    and the phashes are functional on (id1, id2) — every duplicate of a
    pair carries the same hamming. Scoring first costs one xor+popcount
    per band-duplicate candidate (≤ *bands* per pair, trivially cheap)
    and shrinks the dedup exchange from every same-bucket candidate
    carrying two 8-byte hashes to only the sub-threshold pairs carrying
    one int — measured at sf0.1 (20k docs, hot stub-hash buckets):
    3.71M candidate rows -> 2.12M filtered rows into the exchange,
    query best-of-3 1.69 s -> 1.03 s, byte-identical output (530,744
    pairs). At corpus scale the same reorder cuts the dedup shuffle by
    the Hamming-threshold selectivity.

    Returns (id1, id2, hamming), id1 < id2.
    """
    keys = phash_band_keys("phash", bits, bands)
    banded = (
        df_with_phash.select(id_col, "phash")
        .localCheckpoint(eager=False)
        .select(F.col(id_col), "phash", F.explode(keys).alias("bkey"))
    )
    left = banded.select(
        "bkey", F.col(id_col).alias("id1"), F.col("phash").alias("ph1")
    )
    right = banded.select(
        "bkey", F.col(id_col).alias("id2"), F.col("phash").alias("ph2")
    )
    hamming = F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2")))
    return (
        left.join(right, "bkey")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )
