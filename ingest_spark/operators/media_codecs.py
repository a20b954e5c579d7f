"""Pure-stdlib media codecs for the E5 multimodal path.

Real decoders for the formats whose specs need nothing beyond the
standard library (VERDICT r4 §Next #1; GIF added r6 per r5 §Next #5):

- **PNG** (`decode_png`): signature + chunk walk, IHDR parse, IDAT
  concat -> ``zlib`` inflate -> per-scanline UNFILTER (all five filter
  types: None/Sub/Up/Average/Paeth, per the PNG spec §9 'Filtering').
  8- and 16-bit greyscale / RGB / grey+alpha / RGBA (color types
  0/2/4/6) plus 8-bit palette; interlace method 0 AND Adam7 (r8).
- **WAV** (`decode_wav`): RIFF chunk walk, fmt parse (integer PCM at
  8/16/24/32 bits, IEEE-float at 32/64, WAVE_FORMAT_EXTENSIBLE
  unwrap — r8), vectorized sample stats.
- **BMP** (`decode_bmp`): uncompressed BI_RGB at 24-bit BGR, 32-bit
  BGRX, and 8-bit palette (r8); bottom-up or top-down 4-byte-padded
  rows -> top-down RGB, numpy-vectorized.
- **GIF** (`decode_gif`): GIF87a/89a block walk, hand-built LZW with
  variable code width (LSB-first packing, clear/end codes, 12-bit
  ceiling + table-full reset), global/local color table mapping to
  RGB, appendix-E interlace de-permutation (r8). First frame;
  extensions skipped.
- **TIFF** (`decode_tiff`): baseline uncompressed + PackBits (r8),
  both byte orders, IFD walk + strip assembly, 8-bit grey/RGB.
- **JPEG** (`decode_jpeg`): baseline sequential DCT (VERDICT r6
  §Next #4; r8 adds chroma subsampling + numpy vectorization per r7
  §Next #2/#5): marker walk (0xFF fill-byte tolerant), DQT
  (8/16-bit), canonical Huffman rebuild (T.81 C.2), magnitude
  decode, batch dequant + einsum IDCT, DRI/RSTn. Greyscale and
  YCbCr with any per-component sampling factors 1..4 (4:4:4, 4:2:2,
  4:4:0, 4:2:0); BOTH baseline-sequential and progressive (SOF2,
  spectral selection + successive approximation) decode since r8;
  12-bit / lossless / arithmetic raise.

Everything is stdlib except numpy (a hard pyspark dependency, so
always present) for the DCT/color/resample inner loops — measured
3-4x on realistic images vs the r7 scalar loops, bit-identical
decode (SCALE_RUNS.jsonl op=jpeg_codec_vectorize_ab).

Matching encoders (``encode_png`` / ``encode_wav``) exist so tests can
fabricate REAL media bytes deterministically — no image/audio library
needed on either side. The encoders are also the fixture generators
for the oracle-checked ``multimodal_media_decode`` query: payload
parameters are closed-form functions of ``doc_id``, so DuckDB can
predict every decoded feature without being able to inflate a PNG.

Scale note: these run inside Arrow-batched ``mapInPandas`` only —
one Python crossing per batch, payloads never shuffled post-decode.
The reference has no media path at all (this is a BASELINE.json
extension); on a cluster with PIL/ffmpeg installed the dispatcher in
``operators.multimodal`` swaps these for the library decoders without
touching the Spark plumbing.
"""

from __future__ import annotations

import math
import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (8-bit depth only); type 3 is
# palette-indexed: 1 byte/pixel in the filtered stream, 3 (RGB) out
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# decode ceiling on width*height*bpp: a 60-byte PNG can DECLARE any
# geometry, and both the inflate bound and the numpy allocations are
# sized from the header — cap them so a crafted payload raises
# ValueError (-> decode_error row) instead of OOMing an executor
_PNG_MAX_PIXEL_BYTES = 1 << 28  # 256 MiB


# --------------------------------------------------------------- PNG


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters (PNG spec §9): each scanline is
    1 filter-type byte + width*bpp filtered bytes.

    Vectorized per row (VERDICT r7 §Next #5): None copies, Up is one
    vector add, Sub is a per-lane cumulative sum; Average and Paeth
    keep the scalar loop (each output byte depends on the LEFT output
    byte through a non-linear recurrence, so there is no closed-form
    prefix scan — these two rows are the honest serial remainder)."""
    import numpy as np

    stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise ValueError("PNG truncated inside scanline data")
    rows = np.frombuffer(
        bytes(raw[: height * (stride + 1)]), dtype=np.uint8
    ).reshape(height, stride + 1)
    ftypes = rows[:, 0]
    if ftypes.size and int(ftypes.max()) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"PNG unknown filter type {bad}")
    lines = rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(ftypes[y])
        line = lines[y]
        prior = out[y - 1] if y else zero_row
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 1:  # Sub — per-lane cumsum mod 256
            lanes = line.reshape(width, bpp).astype(np.int64)
            out[y] = (
                np.cumsum(lanes, axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up — one vector add
            out[y] = line + prior  # uint8 wraps mod 256 natively
        elif ftype == 3:  # Average (serial left-dependency)
            # bytes/bytearray indexing: ~5x faster than per-element
            # numpy access in a Python loop
            o = bytearray(stride)
            ln, pr = line.tobytes(), prior.tobytes()
            for x in range(stride):
                left = o[x - bpp] if x >= bpp else 0
                o[x] = (ln[x] + (left + pr[x]) // 2) & 0xFF
            out[y] = np.frombuffer(bytes(o), dtype=np.uint8)
        else:  # Paeth (serial left-dependency)
            o = bytearray(stride)
            ln, pr = line.tobytes(), prior.tobytes()
            for x in range(stride):
                left = o[x - bpp] if x >= bpp else 0
                upleft = pr[x - bpp] if x >= bpp else 0
                o[x] = (ln[x] + _paeth(left, pr[x], upleft)) & 0xFF
            out[y] = np.frombuffer(bytes(o), dtype=np.uint8)
    return bytearray(out.tobytes())


# Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png(data: bytes) -> dict:
    """PNG bytes -> dims + per-image pixel stats. Handles 8- AND
    16-bit depths (color types 0/2/4/6; palette type 3 is 8-bit per
    spec) and BOTH interlace methods (none + Adam7, r8) — each Adam7
    pass is an independently filtered sub-image scattered back by
    stride indexing. Raises ValueError on anything else — callers
    dispatch, they don't guess. Palette images decode through their
    PLTE chunk to RGB, so ``pixels``/stats are always real sample
    values; 16-bit stats are over the 16-bit samples while ``pixels``
    carries the high-byte 8-bit view (what a resize consumes)."""
    if data[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = len(PNG_SIGNATURE)
    width = height = None
    channels = bit_depth = color_type = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        pos += 8
        chunk = data[pos : pos + length]
        if len(chunk) < length:
            raise ValueError("PNG truncated inside chunk")
        expect_crc = zlib.crc32(ctype + chunk) & 0xFFFFFFFF
        (got_crc,) = struct.unpack(">I", data[pos + length : pos + length + 4])
        if got_crc != expect_crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        pos += length + 4
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if bit_depth not in (8, 16) or (bit_depth == 16 and color_type == 3):
                raise ValueError(f"unsupported PNG bit depth {bit_depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace not in (0, 1):
                raise ValueError(f"unsupported PNG interlace method {interlace}")
            channels = _PNG_CHANNELS[color_type]
        elif ctype == b"PLTE":
            if length % 3 or length == 0:
                raise ValueError("PNG PLTE length not a multiple of 3")
            palette = chunk
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    import numpy as np

    bpp = channels * (bit_depth // 8)
    # Decompression-bomb guards (ADVICE r8): (a) the declared dims cap
    # every allocation below, so validate them against a ceiling before
    # touching pixel memory; (b) inflate AT MOST the exact raw size the
    # declared geometry implies — an unbounded zlib.decompress on a
    # crafted IDAT (~1000x expansion) could MemoryError an executor,
    # which _CODEC_ERRORS deliberately does not catch. Same contract as
    # the LZW/PackBits/BMP guards: oversized expansion is a ValueError
    # (-> kind='decode_error' row), never a job-killing OOM.
    # Zero dims are invalid per the PNG spec (11.2.2) AND would bypass
    # the bomb guard below: expected==0 makes zlib.decompress treat
    # max_length=0 as UNLIMITED, re-opening the unbounded-inflate OOM
    # this block exists to close (ADVICE r9 #1).
    if width == 0 or height == 0:
        raise ValueError("PNG IHDR declares a zero dimension")
    if width * height * bpp > _PNG_MAX_PIXEL_BYTES:
        raise ValueError(
            f"PNG dims {width}x{height}x{bpp} exceed the "
            f"{_PNG_MAX_PIXEL_BYTES >> 20} MiB decode ceiling"
        )
    if interlace:
        expected = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ph * (1 + pw * bpp)
    else:
        expected = height * (1 + width * bpp)
    dobj = zlib.decompressobj()
    raw = dobj.decompress(bytes(idat), expected)
    if dobj.unconsumed_tail and dobj.decompress(dobj.unconsumed_tail, 1):
        raise ValueError("PNG IDAT inflates beyond the declared geometry")
    if not interlace:
        pixels = _unfilter(raw, width, height, bpp)
    else:  # Adam7: seven independently filtered sub-images
        full = np.zeros((height, width, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            need = ph * (1 + pw * bpp)
            sub = _unfilter(raw[off : off + need], pw, ph, bpp)
            off += need
            full[y0::dy, x0::dx, :] = np.frombuffer(
                bytes(sub), dtype=np.uint8
            ).reshape(ph, pw, bpp)
        pixels = bytearray(full.tobytes())
    if bit_depth == 16:
        samples = np.frombuffer(bytes(pixels), dtype=">u2")
        n16 = int(samples.size)
        return {
            "kind": "png",
            "width": width,
            "height": height,
            "channels": channels,
            "bit_depth": 16,
            "n_pixels": width * height,
            "mean_value": float(samples.astype(np.int64).sum()) / n16
            if n16 else 0.0,
            "min_value": int(samples.min()) if n16 else 0,
            "max_value": int(samples.max()) if n16 else 0,
            # 8-bit view (high bytes): what resize/display consumes
            "pixels": bytes((samples >> 8).astype(np.uint8).tobytes()),
            "samples16": samples,
        }
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE chunk")
        n_entries = len(palette) // 3
        idxs = np.frombuffer(bytes(pixels), dtype=np.uint8)
        if idxs.size and int(idxs.max()) >= n_entries:
            bad = int(idxs[idxs >= n_entries][0])
            raise ValueError(f"PNG palette index {bad} outside PLTE")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(n_entries, 3)
        pixels = bytearray(pal[idxs].tobytes())
        channels = 3
    n = len(pixels)
    total = sum(pixels)
    return {
        "kind": "png",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": 8,
        "n_pixels": width * height,
        "mean_value": total / n if n else 0.0,
        "min_value": min(pixels) if n else 0,
        "max_value": max(pixels) if n else 0,
        "pixels": bytes(pixels),
    }


def _filter_line(ftype: int, line: bytes, prior: bytes, bpp: int) -> bytes:
    """Apply filter ``ftype`` to one raw scanline (encoder side — the
    exact inverse of ``_unfilter``, so round-trip tests exercise both
    directions of every filter)."""
    stride = len(line)
    out = bytearray(stride)
    for x in range(stride):
        left = line[x - bpp] if x >= bpp else 0
        up = prior[x]
        upleft = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            out[x] = line[x]
        elif ftype == 1:
            out[x] = (line[x] - left) & 0xFF
        elif ftype == 2:
            out[x] = (line[x] - up) & 0xFF
        elif ftype == 3:
            out[x] = (line[x] - (left + up) // 2) & 0xFF
        elif ftype == 4:
            out[x] = (line[x] - _paeth(left, up, upleft)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
    return bytes(out)


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 0,
    filter_type: int = 0,
    palette: bytes | None = None,
    bit_depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Raw pixel bytes -> a complete, spec-valid PNG file. ``pixels``
    is row-major, ``width*height*channels`` bytes at depth 8 (palette
    INDICES for color type 3, which also requires ``palette`` as RGB
    triples -> a PLTE chunk), or big-endian u16 samples (twice the
    bytes) at ``bit_depth=16``. ``filter_type`` picks the scanline
    filter (0-4) so tests can force each unfilter branch;
    ``interlace=1`` writes Adam7 (seven independently filtered
    sub-images, r8)."""
    channels = _PNG_CHANNELS[color_type]
    if bit_depth not in (8, 16) or (bit_depth == 16 and color_type == 3):
        raise ValueError(f"unsupported PNG bit depth {bit_depth}")
    bpp = channels * (bit_depth // 8)
    if len(pixels) != width * height * bpp:
        raise ValueError(
            f"expected {width * height * bpp} pixel bytes, got {len(pixels)}"
        )
    if (color_type == 3) != (palette is not None):
        raise ValueError("palette is required for (and only for) color type 3")
    if palette is not None and (len(palette) % 3 or not palette):
        raise ValueError("palette must be non-empty RGB triples")
    raw = bytearray()
    if not interlace:
        stride = width * bpp
        prior = bytes(stride)
        for y in range(height):
            line = pixels[y * stride : (y + 1) * stride]
            raw.append(filter_type)
            raw += _filter_line(filter_type, line, prior, bpp)
            prior = line
    else:  # Adam7
        import numpy as np

        full = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
            height, width, bpp
        )
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = full[y0::dy, x0::dx, :].reshape(ph, pw * bpp)
            prior = bytes(pw * bpp)
            for y in range(ph):
                line = sub[y].tobytes()
                raw.append(filter_type)
                raw += _filter_line(filter_type, line, prior, bpp)
                prior = line

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace
    )
    plte = chunk(b"PLTE", palette) if palette is not None else b""
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------- WAV


def decode_wav(data: bytes) -> dict:
    """RIFF/WAVE bytes -> format + sample stats. PCM (format tag 1)
    with 8- or 16-bit samples; raises ValueError otherwise."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    frames = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("WAV truncated inside chunk")
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            tag, n_channels, sample_rate, _brate, _balign, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag == 0xFFFE and len(body) >= 26:
                # WAVE_FORMAT_EXTENSIBLE: the real tag leads the GUID
                tag = struct.unpack_from("<H", body, 24)[0]
            if tag == 1 and bits in (8, 16, 24, 32):
                pass  # integer PCM
            elif tag == 3 and bits in (32, 64):
                pass  # IEEE float (r8)
            else:
                raise ValueError(
                    f"unsupported WAV format tag {tag} / depth {bits}")
            fmt = (n_channels, sample_rate, bits, tag)
        elif cid == b"data":
            frames = body
    if fmt is None or frames is None:
        raise ValueError("WAV missing fmt or data chunk")
    import numpy as np

    n_channels, sample_rate, bits, tag = fmt
    if tag == 3:  # IEEE float
        dt = "<f4" if bits == 32 else "<f8"
        width = bits // 8
        count = len(frames) // width
        samples = np.frombuffer(frames[: count * width], dtype=dt).astype(
            np.float64
        )
    elif bits == 16:
        count = len(frames) // 2
        samples = np.frombuffer(frames[: count * 2], dtype="<i2").astype(
            np.int64
        )
    elif bits == 24:  # 3-byte little-endian signed (r8)
        count = len(frames) // 3
        b = np.frombuffer(frames[: count * 3], dtype=np.uint8).reshape(
            count, 3
        ).astype(np.int64)
        samples = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        samples = samples - ((samples >> 23) << 24)  # sign extend
    elif bits == 32:
        count = len(frames) // 4
        samples = np.frombuffer(frames[: count * 4], dtype="<i4").astype(
            np.int64
        )
    else:  # 8-bit WAV is unsigned, centered at 128
        samples = np.frombuffer(frames, dtype=np.uint8).astype(np.int64) - 128
    n = int(samples.size)
    n_samples = n // n_channels if n_channels else 0
    # int64 accumulation is exact for integer PCM (|s| < 2^31), so the
    # vectorized stats match per-sample Python sums bit-for-bit
    mean = float(samples.sum()) / n if n else 0.0
    rms = float(np.sqrt((samples.astype(np.float64) ** 2).mean())) if n else 0.0
    cast = float if tag == 3 else int
    return {
        "kind": "wav",
        "channels": n_channels,
        "sample_rate": sample_rate,
        "bit_depth": bits,
        "n_samples": n_samples,
        "duration_sec": n_samples / sample_rate if sample_rate else 0.0,
        "mean_value": mean,
        "rms": rms,
        "min_value": cast(samples.min()) if n else 0,
        "max_value": cast(samples.max()) if n else 0,
        "samples": samples,
    }


def encode_wav(
    samples: list, sample_rate: int = 8000, n_channels: int = 1,
    bits: int = 16, float_pcm: bool = False,
) -> bytes:
    """Interleaved samples -> a complete WAV file: integer PCM at
    8/16/24/32 bits, or IEEE-float PCM (format tag 3) at 32/64 bits
    with ``float_pcm=True`` (r8)."""
    if float_pcm:
        if bits not in (32, 64):
            raise ValueError("float WAV must be 32- or 64-bit")
        frames = struct.pack(
            f"<{len(samples)}{'f' if bits == 32 else 'd'}", *samples
        )
        tag = 3
    elif bits == 16:
        frames = struct.pack(f"<{len(samples)}h", *samples)
        tag = 1
    elif bits == 8:
        frames = bytes((s + 128) & 0xFF for s in samples)
        tag = 1
    elif bits == 24:
        frames = b"".join(
            (s & 0xFFFFFF).to_bytes(3, "little") for s in samples
        )
        tag = 1
    elif bits == 32:
        frames = struct.pack(f"<{len(samples)}i", *samples)
        tag = 1
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    byte_rate = sample_rate * n_channels * bits // 8
    block_align = n_channels * bits // 8
    fmt = struct.pack("<HHIIHH", tag, n_channels, sample_rate, byte_rate, block_align, bits)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(frames))
        + frames
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --------------------------------------------------------------- BMP


def decode_bmp(data: bytes) -> dict:
    """Uncompressed BI_RGB Windows BMP -> dims + pixel stats: 24-bit
    BGR, 32-bit BGRX, and 8-bit palette-indexed (r8), top-down or
    bottom-up. Output pixel bytes are top-down RGB; the row
    shuffle/palette gather is numpy-vectorized."""
    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    if len(data) < 54:
        raise ValueError("BMP truncated before headers")
    (data_offset,) = struct.unpack_from("<I", data, 10)
    (hdr_size, width, height) = struct.unpack_from("<Iii", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp not in (8, 24, 32) or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    bypp = bpp // 8
    row_size = (width * bypp + 3) & ~3  # 4-byte aligned
    # guard BEFORE allocating: corrupt headers must not turn into a
    # multi-GB bytearray (one bad payload would OOM the executor)
    if width < 0 or row_size * height > len(data):
        raise ValueError("BMP truncated inside pixel data")
    region = data[data_offset : data_offset + row_size * height]
    if len(region) < row_size * height:
        raise ValueError("BMP truncated inside pixel data")
    rows = np.frombuffer(region, dtype=np.uint8).reshape(height, row_size)
    rows = rows[:, : width * bypp].reshape(height, width, bypp)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        (n_colors,) = struct.unpack_from("<I", data, 46)
        n_colors = n_colors or 256
        table = data[14 + hdr_size : 14 + hdr_size + 4 * n_colors]
        if len(table) < 4 * n_colors:
            raise ValueError("BMP truncated inside color table")
        pal = np.frombuffer(table, dtype=np.uint8).reshape(n_colors, 4)
        idxs = rows.reshape(height, width)
        if idxs.size and int(idxs.max()) >= n_colors:
            raise ValueError("BMP pixel index outside color table")
        rgb = pal[idxs][:, :, [2, 1, 0]]  # BGRA entries -> RGB
    else:
        rgb = rows[:, :, [2, 1, 0]]  # BGR(X) -> RGB, alpha dropped
    pixels = bytearray(np.ascontiguousarray(rgb).tobytes())
    n = len(pixels)
    return {
        "kind": "bmp",
        "width": width,
        "height": height,
        "channels": 3,
        "bit_depth": 8,
        "n_pixels": width * height,
        "mean_value": sum(pixels) / n if n else 0.0,
        "min_value": min(pixels) if n else 0,
        "max_value": max(pixels) if n else 0,
        "pixels": bytes(pixels),
    }


def encode_bmp(
    width: int, height: int, pixels: bytes, bpp: int = 24,
    palette: bytes | None = None,
) -> bytes:
    """Top-down pixels -> a complete BI_RGB BMP file (bottom-up rows,
    4-byte padded — the spec layout). ``bpp``: 24 (RGB in, BGR
    stored), 32 (RGB in, BGRX stored), or 8 (palette INDICES in +
    ``palette`` RGB triples -> a BGRA0 color table, r8)."""
    import numpy as np

    if bpp not in (8, 24, 32):
        raise ValueError(f"bpp must be 8, 24 or 32, got {bpp}")
    if (bpp == 8) != (palette is not None):
        raise ValueError("palette is required for (and only for) bpp=8")
    in_bypp = 1 if bpp == 8 else 3
    if len(pixels) != width * height * in_bypp:
        raise ValueError(
            f"expected {width * height * in_bypp} pixel bytes, got {len(pixels)}"
        )
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width, in_bypp
    )[::-1]  # bottom-up
    if bpp == 8:
        n_entries = len(palette) // 3
        if len(palette) % 3 or not palette or n_entries > 256:
            raise ValueError("palette must be 1..256 RGB triples")
        if int(arr.max(initial=0)) >= n_entries:
            raise ValueError("pixel index outside palette")
        stored = arr
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(n_entries, 3)
        table = np.zeros((n_entries, 4), dtype=np.uint8)
        table[:, :3] = pal[:, [2, 1, 0]]  # RGB -> BGRA0 entries
        table_bytes = table.tobytes()
    else:
        bgr = arr[:, :, [2, 1, 0]]
        if bpp == 32:
            stored = np.zeros((height, width, 4), dtype=np.uint8)
            stored[:, :, :3] = bgr
        else:
            stored = bgr
        table_bytes = b""
    bypp = bpp // 8
    row_size = (width * bypp + 3) & ~3
    body = np.zeros((height, row_size), dtype=np.uint8)
    body[:, : width * bypp] = stored.reshape(height, width * bypp)
    body = body.tobytes()
    data_offset = 14 + 40 + len(table_bytes)
    file_size = data_offset + len(body)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, data_offset)
    n_colors = (len(table_bytes) // 4) if table_bytes else 0
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(body),
                      2835, 2835, n_colors, 0)
    return header + dib + table_bytes + body


# --------------------------------------------------------------- GIF

_GIF_MAX_WIDTH = 12  # spec: LZW codes never exceed 12 bits


def _lzw_decode(
    data: bytes, min_code_size: int, max_out: int | None = None
) -> bytearray:
    """GIF-variant LZW decode (spec appendix F): variable code width
    starting at min_code_size+1, LSB-first bit packing, clear/end
    codes, width bump when the table reaches the current code range,
    12-bit ceiling with append-freeze until the next clear.
    ``max_out`` caps the output (r8): LZW expands up to ~4096x per
    code, so without a cap a tiny crafted stream could balloon into a
    multi-GB buffer — the caller passes the pixel count it needs and
    decode stops there (a decompression-bomb guard, not a format
    rule)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated (no end code)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            return out
        if prev is None:  # first code after a clear: literal only
            if code >= clear:
                raise ValueError(f"GIF LZW bad first code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < (1 << _GIF_MAX_WIDTH):
                table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            if len(table) < (1 << _GIF_MAX_WIDTH):
                table.append(entry)
        else:
            raise ValueError(f"GIF LZW code {code} beyond table {len(table)}")
        out += entry
        if max_out is not None and len(out) >= max_out:
            return out
        prev = entry
        if len(table) == (1 << width) and width < _GIF_MAX_WIDTH:
            width += 1


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Greedy longest-match GIF LZW encoder — exact inverse of
    ``_lzw_decode``. Code width is driven by MIRRORING the decoder's
    table-size bookkeeping (``dec_len``), not the encoder's own dict:
    the decoder appends one entry for every data code after the first
    post-clear one — including the final flush code, for which the
    encoder creates no entry of its own. Driving the bump off the
    encoder dict desynchronizes the two exactly when that flush-side
    append crosses a power of two (caught by the hypothesis round-trip
    property). Emits a clear + full reset when the table fills at
    4096, same as every spec-conforming encoder."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {}
    next_code = 0
    width = min_code_size + 1
    dec_len = 0  # decoder-visible table length
    first_after_clear = True

    def reset() -> None:
        nonlocal table, next_code, width, dec_len, first_after_clear
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        width = min_code_size + 1
        dec_len = end + 1
        first_after_clear = True

    def emit_data(code: int) -> None:
        """Emit at the decoder's current width, then advance the
        decoder model: it appends one entry per data code after the
        first post-clear one, bumping width when its table reaches
        the width's capacity."""
        nonlocal dec_len, first_after_clear, width
        emit(code, width)
        if first_after_clear:
            first_after_clear = False
            return
        if dec_len < (1 << _GIF_MAX_WIDTH):
            dec_len += 1
            if dec_len == (1 << width) and width < _GIF_MAX_WIDTH:
                width += 1

    reset()
    emit(clear, width)
    buf = b""
    for byte in indices:
        if byte >= clear:
            raise ValueError(f"pixel index {byte} exceeds palette size {clear}")
        nb = buf + bytes([byte])
        if nb in table:
            buf = nb
            continue
        emit_data(table[buf])
        if next_code < (1 << _GIF_MAX_WIDTH):
            table[nb] = next_code
            next_code += 1
        else:  # table full: clear, reset, restart matching
            emit(clear, width)
            reset()
        buf = bytes([byte])
    if buf:
        emit_data(table[buf])
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_interlace_rows(height: int) -> list[int]:
    """GIF89a appendix E interlace order: the y coordinates of stored
    rows, pass 1 (0::8), pass 2 (4::8), pass 3 (2::4), pass 4 (1::2)."""
    return (list(range(0, height, 8)) + list(range(4, height, 8))
            + list(range(2, height, 4)) + list(range(1, height, 2)))


def decode_gif(data: bytes) -> dict:
    """GIF87a/89a bytes -> dims + palette-mapped RGB pixel stats
    (first frame; pure-stdlib LZW — VERDICT r5 §Next #5). Extensions
    are skipped; interlaced frames de-interlace via the appendix-E row
    permutation (r8); frames without any color table raise ValueError
    — callers dispatch, they don't guess."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("GIF truncated before screen descriptor")
    _sw, _sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    global_table = b""
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        global_table = data[pos : pos + n]
        if len(global_table) < n:
            raise ValueError("GIF truncated inside global color table")
        pos += n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image data")
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"GIF unknown block 0x{block:02x}")
        _left, _top, width, height, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        interlaced = bool(ipacked & 0x40)
        table = global_table
        if ipacked & 0x80:  # local color table takes precedence
            n = 3 * (2 << (ipacked & 0x07))
            table = data[pos : pos + n]
            if len(table) < n:
                raise ValueError("GIF truncated inside local color table")
            pos += n
        if not table:
            raise ValueError("GIF image has no color table")
        min_code_size = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            n = data[pos]
            chunk = data[pos + 1 : pos + 1 + n]
            if len(chunk) < n:
                raise ValueError("GIF truncated inside image sub-block")
            lzw += chunk
            pos += 1 + n
        indices = _lzw_decode(bytes(lzw), min_code_size, width * height)
        if interlaced and len(indices) >= width * height:
            ordered = bytearray(width * height)
            for row_i, y in enumerate(_gif_interlace_rows(height)):
                ordered[y * width : (y + 1) * width] = indices[
                    row_i * width : (row_i + 1) * width
                ]
            indices = ordered
        if len(indices) < width * height:
            raise ValueError(
                f"GIF decoded {len(indices)} indices for {width}x{height}"
            )
        import numpy as np

        palette_size = len(table) // 3
        idxs = np.frombuffer(bytes(indices[: width * height]), dtype=np.uint8)
        if idxs.size and int(idxs.max()) >= palette_size:
            bad = int(idxs[idxs >= palette_size][0])
            raise ValueError(f"GIF pixel index {bad} outside palette")
        pal = np.frombuffer(bytes(table[: palette_size * 3]),
                            dtype=np.uint8).reshape(palette_size, 3)
        pixels = bytearray(pal[idxs].tobytes())
        n = len(pixels)
        return {
            "kind": "gif",
            "width": width,
            "height": height,
            "channels": 3,
            "bit_depth": 8,
            "palette_size": palette_size,
            "n_pixels": width * height,
            "mean_value": sum(pixels) / n if n else 0.0,
            "min_value": min(pixels) if n else 0,
            "max_value": max(pixels) if n else 0,
            "pixels": bytes(pixels),
        }
    raise ValueError("GIF truncated before image descriptor")


def encode_gif(
    width: int, height: int, indices: bytes, palette: bytes,
    interlace: bool = False,
) -> bytes:
    """Indexed pixels + RGB palette -> a complete GIF89a file (global
    color table, one image — optionally Adam-style interlaced per
    appendix E (r8) — real LZW). ``palette`` is RGB triples; its
    length is padded up to the next power of two of entries as the
    spec's size field requires."""
    if len(indices) != width * height:
        raise ValueError(f"expected {width * height} indices, got {len(indices)}")
    if len(palette) % 3 or not palette:
        raise ValueError("palette must be non-empty RGB triples")
    n_entries = len(palette) // 3
    size_field = max(1, (n_entries - 1).bit_length())  # 2^size >= entries, >=2
    table = palette + b"\x00" * (3 * ((1 << size_field) - n_entries))
    if max(indices) >= n_entries:
        raise ValueError("pixel index outside palette")
    min_code_size = max(2, size_field)
    if interlace:
        stored = bytearray()
        for y in _gif_interlace_rows(height):
            stored += indices[y * width : (y + 1) * width]
        indices = bytes(stored)
    lzw = _lzw_encode(indices, min_code_size)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | ((size_field - 1) & 7), 0, 0)
        + table
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
        + bytes([min_code_size])
        + bytes(blocks)
        + b"\x3b"
    )


# --------------------------------------------------------- video meta

# The E5 video story (r8): frame DECODE stays honestly stubbed
# (no ffmpeg in this container — `multimodal.sample_frames` carries
# the one-to-many plumbing), but container METADATA is real: the AVI
# main header and the MP4 box tree are plain structs, so dimensions,
# frame counts, and timescales parse without any codec.


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for the chunks in
    data[start:end] (RIFF: fourcc + LE size + payload, padded to even;
    a LIST/RIFF chunk's payload begins with its 4-byte list type).
    Raises ValueError on a size running past the buffer — malformed,
    not silently truncated."""
    p = start
    while p + 8 <= end:
        fourcc = data[p : p + 4]
        (size,) = struct.unpack_from("<I", data, p + 4)
        if p + 8 + size > end:
            raise ValueError("AVI malformed RIFF chunk size")
        yield fourcc, p + 8, p + 8 + size
        p += 8 + size + (size & 1)  # chunks are word-aligned


def decode_avi_meta(data: bytes) -> dict:
    """RIFF-AVI bytes -> container metadata from the 'avih' main
    header (OpenDML/AVI 1.0): dims, total frames, frame rate. No
    frame decoding — metadata only.

    The header is located by WALKING the chunk tree
    (RIFF -> LIST hdrl -> avih), like decode_mp4_meta walks boxes —
    a raw ``data.find(b'avih')`` (ADVICE r8) matches any stray
    'avih' byte run inside frame data first and silently parses
    garbage dims instead of raising for the dispatch layer."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (bad RIFF header)")
    p = None
    for fourcc, s, e in _riff_chunks(data, 12, len(data)):
        if fourcc == b"LIST" and data[s : s + 4] == b"hdrl":
            for f2, s2, e2 in _riff_chunks(data, s + 4, e):
                if f2 == b"avih":
                    if e2 - s2 < 40:
                        raise ValueError("AVI avih header too short")
                    p = s2
                    break
            break
    if p is None:
        raise ValueError("AVI missing avih header")
    us_per_frame, _maxbps, _pad, _flags, total_frames = struct.unpack_from(
        "<IIIII", data, p
    )
    width, height = struct.unpack_from("<II", data, p + 32)
    fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
    return {
        "kind": "avi",
        "width": width,
        "height": height,
        "n_frames": total_frames,
        "fps": fps,
        "duration_sec": total_frames * us_per_frame / 1e6,
    }


def encode_avi_meta(
    width: int, height: int, n_frames: int, fps: int
) -> bytes:
    """Minimal structurally-valid AVI shell: RIFF('AVI ', LIST hdrl
    (avih + LIST strl(strh))) with an empty movi list — enough for
    any avih-reading parser, zero frame data (the honest container
    for metadata tests)."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    avih = struct.pack(
        "<IIIII", 1_000_000 // fps, 0, 0, 0, n_frames
    ) + struct.pack("<III", 0, 1, 0) + struct.pack(
        "<II", width, height
    ) + b"\x00" * 16
    avih_chunk = b"avih" + struct.pack("<I", len(avih)) + avih
    strh = (b"vids" + b"\x00" * 4 + struct.pack("<IHHIIII", 0, 0, 0, 0, 1, fps, 0)
            + struct.pack("<IIiI", n_frames, 0, -1, 0) + b"\x00" * 8)
    strh_chunk = b"strh" + struct.pack("<I", len(strh)) + strh
    strl = b"LIST" + struct.pack("<I", 4 + len(strh_chunk)) + b"strl" + strh_chunk
    hdrl_body = b"hdrl" + avih_chunk + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi = b"LIST" + struct.pack("<I", 4) + b"movi"
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi_mjpeg(
    width: int, height: int, jpeg_frames: list[bytes], fps: int = 25
) -> bytes:
    """MJPEG-in-AVI writer (VERDICT r8 §Next #5): a structurally valid
    RIFF('AVI ') with LIST hdrl (avih + LIST strl(strh 'vids'/'MJPG' +
    strf BITMAPINFOHEADER)) and a LIST movi holding one word-aligned
    '00dc' chunk per JPEG frame — the classic motion-JPEG container,
    where every frame is an independent baseline JFIF image. Composes
    with ``encode_jpeg`` for a fully self-made video fixture."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    n = len(jpeg_frames)
    avih = (
        struct.pack("<IIIII", 1_000_000 // fps, 0, 0, 0, n)
        + struct.pack("<III", 0, 1, 0)
        + struct.pack("<II", width, height)
        + b"\x00" * 16
    )
    avih_chunk = b"avih" + struct.pack("<I", len(avih)) + avih
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIII", 0, 0, 0, 0, 1, fps, 0)
        + struct.pack("<IIiI", n, 0, -1, 0)
        + b"\x00" * 8
    )
    strh_chunk = b"strh" + struct.pack("<I", len(strh)) + strh
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24,
        0x47504A4D,  # biCompression = 'MJPG' little-endian
        width * height * 3, 0, 0, 0, 0,
    )
    strf_chunk = b"strf" + struct.pack("<I", len(strf)) + strf
    strl = (
        b"LIST"
        + struct.pack("<I", 4 + len(strh_chunk) + len(strf_chunk))
        + b"strl" + strh_chunk + strf_chunk
    )
    hdrl_body = b"hdrl" + avih_chunk + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = bytearray(b"movi")
    for frame in jpeg_frames:
        movi_body += b"00dc" + struct.pack("<I", len(frame)) + frame
        if len(frame) & 1:
            movi_body += b"\x00"  # RIFF chunks are word-aligned
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + bytes(movi_body)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg_frames(data: bytes) -> tuple[dict, list[dict]]:
    """MJPEG-in-AVI -> (container meta, REAL per-frame decodes): the
    avih header parses via the hdrl walk, then every '00dc'/'00db'
    chunk under LIST movi entropy-decodes through ``decode_jpeg`` —
    actual Huffman + dequant + IDCT pixels per frame, not metadata
    (VERDICT r8 §Next #5 closes the 'frame decode stays stubbed'
    gap for the one codec this container needs no ffmpeg for).
    Raises ValueError on a missing movi list or any corrupt frame —
    callers dispatch payload-level errors."""
    meta = decode_avi_meta(data)
    frames: list[dict] = []
    found = False
    for fourcc, s, e in _riff_chunks(data, 12, len(data)):
        if fourcc == b"LIST" and data[s : s + 4] == b"movi":
            found = True
            for f2, s2, e2 in _riff_chunks(data, s + 4, e):
                if f2 in (b"00dc", b"00db"):
                    frames.append(decode_jpeg(bytes(data[s2:e2])))
    if not found:
        raise ValueError("AVI missing movi list")
    return meta, frames


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the top-level
    boxes in data[start:end] (32-bit sizes; size<8 is malformed)."""
    p = start
    while p + 8 <= end:
        (size,) = struct.unpack_from(">I", data, p)
        btype = data[p + 4 : p + 8]
        if size < 8 or p + size > end:
            raise ValueError("MP4 malformed box size")
        yield btype, p + 8, p + size
        p += size


def decode_mp4_meta(data: bytes) -> dict:
    """ISO-BMFF (MP4/MOV) bytes -> container metadata from the box
    tree: mvhd timescale + duration, first video tkhd dims (16.16
    fixed-point). Metadata only — no sample decoding."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an MP4 (no ftyp box)")
    timescale = duration = None
    width = height = None
    for btype, s, e in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for b2, s2, e2 in _mp4_boxes(data, s, e):
            if b2 == b"mvhd":
                ver = data[s2]
                if ver == 1:
                    timescale, duration = struct.unpack_from(">IQ", data, s2 + 20)
                else:
                    timescale, duration = struct.unpack_from(">II", data, s2 + 12)
            elif b2 == b"trak" and width is None:
                for b3, s3, e3 in _mp4_boxes(data, s2, e2):
                    if b3 == b"tkhd":
                        ver = data[s3]
                        # tkhd v0 payload: ver/flags 4, times 8,
                        # track 4, rsvd 4, duration 4, rsvd 8,
                        # layer/alt/vol/rsvd 8, matrix 36 -> width@76
                        # (v1 widens the three times to 64-bit -> @88)
                        woff = s3 + (76 if ver == 0 else 88)
                        if woff + 8 > e3:
                            raise ValueError("MP4 tkhd box too short")
                        w_fx, h_fx = struct.unpack_from(">II", data, woff)
                        if w_fx and h_fx:
                            width, height = w_fx >> 16, h_fx >> 16
    if timescale is None:
        raise ValueError("MP4 missing moov/mvhd")
    return {
        "kind": "mp4",
        "width": width,
        "height": height,
        "timescale": timescale,
        "duration_units": duration,
        "duration_sec": duration / timescale if timescale else 0.0,
    }


def encode_mp4_meta(
    width: int, height: int, timescale: int, duration: int
) -> bytes:
    """Minimal ISO-BMFF shell: ftyp + moov(mvhd + trak(tkhd)) with the
    given timescale/duration and 16.16 fixed-point track dims."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + btype + payload

    mvhd = (b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, duration)
            + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = (b"\x00\x00\x00\x07" + struct.pack(">II", 0, 0)
            + struct.pack(">I", 1) + b"\x00" * 4
            + struct.pack(">I", duration) + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", width << 16, height << 16))
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    return ftyp + moov


# --------------------------------------------------------------- sniff


def sniff_mime(data: bytes | None) -> str | None:
    """Magic-byte dispatch; None for anything the codecs can't decode."""
    if not data:
        return None
    if data[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        return "image/png"
    if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    if len(data) >= 13 and data[:6] in (b"GIF87a", b"GIF89a"):
        return "image/gif"
    if len(data) >= 8 and data[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if len(data) >= 54 and data[:2] == b"BM":
        return "image/bmp"
    if len(data) >= 4 and data[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return "video/avi"
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return "video/mp4"
    return None


# --------------------------------------------------------------- TIFF

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "samples",
    278: "rows_per_strip", 279: "strip_counts",
}


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    """TIFF PackBits (Apple RLE, TIFF 6.0 §9): control byte n in
    0..127 copies n+1 literals; 129..255 repeats the next byte
    257-n times; 128 is a no-op. ``max_out`` bounds the expansion
    (decompression-bomb guard, same contract as _lzw_decode)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < max_out:
        n = data[i]
        i += 1
        if n < 128:
            chunk = data[i : i + n + 1]
            if len(chunk) < n + 1:
                raise ValueError("TIFF PackBits literal run truncated")
            out += chunk
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("TIFF PackBits repeat run truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out[:max_out])


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encoder: runs of >= 3 identical bytes become repeat
    packets, everything else literal packets (<= 128 bytes each)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        # literal: extend until a >=3 run starts or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            r = 1
            while j + r < n and r < 3 and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def decode_tiff(data: bytes) -> dict:
    """Baseline uncompressed TIFF (both byte orders): header + first
    IFD walk, strip assembly, 8-bit greyscale (1 sample) or RGB
    (3 samples). Raises ValueError on compressed/unsupported shapes —
    callers dispatch, they don't guess."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF (bad byte-order mark)")
    bo = "<" if data[:2] == b"II" else ">"
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("TIFF truncated before IFD")
    (n_entries,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
    fields: dict[str, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        if base + 12 > len(data):
            raise ValueError("TIFF truncated inside IFD")
        tag, ftype, count = struct.unpack(bo + "HHI", data[base : base + 8])
        if tag not in _TIFF_TAGS or ftype not in type_size:
            continue
        total = type_size[ftype] * count
        if total <= 4:
            raw = data[base + 8 : base + 8 + total]
        else:
            (off,) = struct.unpack(bo + "I", data[base + 8 : base + 12])
            raw = data[off : off + total]
            if len(raw) < total:
                raise ValueError("TIFF truncated inside field values")
        fields[_TIFF_TAGS[tag]] = list(
            struct.unpack(bo + type_fmt[ftype] * count, raw)
        )
    for req in ("width", "height", "strip_offsets", "strip_counts"):
        if req not in fields:
            raise ValueError(f"TIFF missing required tag {req}")
    compression = fields.get("compression", [1])[0]
    if compression not in (1, 32773):
        raise ValueError(
            "compressed TIFF unsupported (baseline uncompressed + PackBits)")
    bits = fields.get("bits", [8])
    if any(b != 8 for b in bits):
        raise ValueError(f"unsupported TIFF bit depths {bits}")
    channels = fields.get("samples", [len(bits)])[0]
    if channels not in (1, 3):
        raise ValueError(f"unsupported TIFF samples/pixel {channels}")
    width, height = fields["width"][0], fields["height"][0]
    need = width * height * channels
    pixels = bytearray()
    for off, cnt in zip(fields["strip_offsets"], fields["strip_counts"]):
        strip = data[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("TIFF truncated inside strip data")
        if compression == 32773:
            strip = _packbits_decode(strip, need - len(pixels))
        pixels += strip
    if len(pixels) < need:
        raise ValueError(f"TIFF strips hold {len(pixels)} bytes, need {need}")
    pixels = bytes(pixels[:need])
    n = len(pixels)
    return {
        "kind": "tiff",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": 8,
        "n_pixels": width * height,
        "mean_value": sum(pixels) / n if n else 0.0,
        "min_value": min(pixels) if n else 0,
        "max_value": max(pixels) if n else 0,
        "pixels": pixels,
    }


def encode_tiff(
    width: int, height: int, pixels: bytes, channels: int = 1,
    byte_order: str = "II", compression: int = 1,
) -> bytes:
    """8-bit greyscale/RGB pixels -> a minimal single-strip baseline
    TIFF, little- ('II') or big-endian ('MM'); ``compression`` 1
    (uncompressed) or 32773 (PackBits, r8)."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3, got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"expected {width * height * channels} pixel bytes, got {len(pixels)}"
        )
    if compression not in (1, 32773):
        raise ValueError("compression must be 1 or 32773 (PackBits)")
    strip = pixels if compression == 1 else _packbits_encode(pixels)
    bo = "<" if byte_order == "II" else ">"
    entries = [
        (256, 3, 1, width),
        (257, 3, 1, height),
        (259, 3, 1, compression),
        (262, 3, 1, 1 if channels == 1 else 2),  # BlackIsZero / RGB
        (277, 3, 1, channels),
        (278, 3, 1, height),                   # one strip
        (279, 4, 1, len(strip)),
    ]
    # BitsPerSample: 1 SHORT inline for grey; 3 SHORTs via offset for RGB
    n_entries = len(entries) + 2  # + BitsPerSample + StripOffsets
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * n_entries + 4
    if channels == 3:
        bits_val = after_ifd          # offset to the 3 SHORTs
        extra = struct.pack(bo + "HHH", 8, 8, 8)
    else:
        bits_val = 8
        extra = b""
    strip_off = after_ifd + len(extra)
    entries.append((258, 3, channels, bits_val))
    entries.append((273, 4, 1, strip_off))
    out = bytearray()
    out += (b"II" if bo == "<" else b"MM") + struct.pack(bo + "HI", 42, ifd_off)
    out += struct.pack(bo + "H", n_entries)
    for tag, ftype, count, val in sorted(entries):
        out += struct.pack(bo + "HHI", tag, ftype, count)
        if ftype == 3 and count == 1:
            # a single SHORT sits left-aligned in the 4-byte value slot
            out += struct.pack(bo + "HH", val, 0)
        else:
            out += struct.pack(bo + "I", val)
    out += struct.pack(bo + "I", 0)  # no next IFD
    out += extra
    out += strip
    return bytes(out)


# --------------------------------------------------------------- JPEG

# 8x8 DCT basis: _DCT_C[u][x] = c(u)/2 * cos((2x+1) u pi / 16), the
# orthonormal form from T.81 A.3.3, so FDCT and IDCT use the SAME
# table (the matrix is its own inverse-transpose).
_DCT_C = [
    [
        ((0.7071067811865476 if u == 0 else 1.0) / 2.0)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]

# zigzag index i -> raster offset (8*row + col), built by the T.81
# diagonal walk: even anti-diagonals run bottom-left -> top-right.
_JPEG_ZIGZAG = [
    8 * r + (s - r)
    for s in range(15)
    for r in (
        range(min(s, 7), max(0, s - 7) - 1, -1)
        if s % 2 == 0
        else range(max(0, s - 7), min(s, 7) + 1)
    )
]

# Annex K.1/K.2 base quantization tables (spec constants), zigzag?
# No — raster order here; zigzag applied only in the DQT segment.
_JPEG_QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


def _jpeg_quant_table(base: list[int], quality: int | None) -> list[int]:
    """IJG quality scaling; quality=None -> all-ones (near-lossless:
    constant 8x8 tiles round-trip bit-exactly, which is what the SQL
    oracle fixtures rely on)."""
    if quality is None:
        return [1] * 64
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (q * scale + 50) // 100)) for q in base]


# numpy-vectorized DCT (VERDICT r7 §Next #5): all blocks of a plane go
# through ONE einsum instead of a per-coefficient Python loop — the
# media scale run's hot path. _DCT_M[u, x] = c(u)/2 cos((2x+1)u pi/16).
_DCT_M = None  # built lazily so module import stays numpy-optional-ish


def _dct_m():
    global _DCT_M
    if _DCT_M is None:
        import numpy as np

        _DCT_M = np.array(_DCT_C, dtype=np.float64)
    return _DCT_M


def _fdct_quant_blocks(blocks, quant: list[int]):
    """(n, 8, 8) level-shifted samples -> (n, 64) int32 quantized
    ZIGZAG coefficients. F[u,v] = sum_{x,y} p[x,y] C[u,x] C[v,y];
    symmetric round-half-away-from-zero (Python round() is
    banker's)."""
    import numpy as np

    c = _dct_m()
    # F[n] = C @ p[n] @ C^T — two batched BLAS matmuls; einsum with
    # optimize=True re-ran its contraction-path search on EVERY call,
    # ~50% of tiny-frame (8x8 MCU-grid) wall (r12 kernel study)
    fcoef = np.matmul(np.matmul(c, blocks), c.T)
    t = fcoef.reshape(-1, 64) / np.asarray(quant, dtype=np.float64)
    out = np.sign(t) * np.floor(np.abs(t) + 0.5)
    return out[:, _JPEG_ZIGZAG].astype(np.int32)


def _idct_blocks(zz, quant: list[int]):
    """(n, 64) zigzag coefficients -> (n, 8, 8) uint8 samples
    (dequant + IDCT + level shift + clamp), matching the scalar
    reference: p[x,y] = floor(sum_{u,v} F[u,v] C[u,x] C[v,y] + 128.5)
    clamped to 0..255."""
    import numpy as np

    qzz = np.asarray(quant, dtype=np.float64)[_JPEG_ZIGZAG]
    fcoef = (np.asarray(zz, dtype=np.float64) * qzz)
    raster = np.zeros_like(fcoef)
    raster[:, _JPEG_ZIGZAG] = fcoef
    fmat = raster.reshape(-1, 8, 8)
    c = _dct_m()
    # p[n] = C^T @ F[n] @ C (see _fdct_quant_blocks on why matmul)
    p = np.matmul(np.matmul(c.T, fmat), c)
    return np.clip(np.floor(p + 128.5), 0, 255).astype(np.uint8)


def _jpeg_huffman_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Symbol -> canonical code length (<=16). Plain Huffman over the
    observed frequencies plus one phantom symbol (freq 1, sorts last)
    so the all-ones code is never assigned to a real symbol — the IJG
    convention. Falls back to equal-length codes if any length would
    exceed JPEG's 16-bit ceiling (tiny images never hit this)."""
    _PHANTOM = 0x100
    nodes = [(f, sym, sym) for sym, f in freqs.items() if f] + [(1, _PHANTOM, _PHANTOM)]
    if len(nodes) == 1:
        return {}
    import heapq

    depth: dict[int, int] = {}
    heap = [(f, sym, [sym]) for f, sym, _ in nodes]
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, t1, s1 = heapq.heappop(heap)
        f2, t2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] = depth.get(s, 0) + 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), s1 + s2))
    depth.pop(_PHANTOM, None)
    if depth and max(depth.values()) > 16:
        n = len(depth) + 1  # +1 keeps the all-ones code unused
        width = max(1, (n - 1).bit_length())
        return {sym: width for sym in depth}
    return depth


def _jpeg_canonical(lengths: dict[int, int]):
    """Canonical code assignment (T.81 C.2): returns (bits[1..16],
    huffval, {symbol: (code, length)})."""
    bits = [0] * 17
    huffval: list[int] = []
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for sym, ln in sorted(lengths.items(), key=lambda kv: (kv[1], kv[0])):
        code <<= ln - prev_len
        prev_len = ln
        codes[sym] = (code, ln)
        code += 1
        bits[ln] += 1
        huffval.append(sym)
    return bits, huffval, codes


class _BitWriter:
    """MSB-first bit packing with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, n_bits: int) -> None:
        self._acc = (self._acc << n_bits) | (value & ((1 << n_bits) - 1))
        self._n += n_bits
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)  # 1-pad


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


def _rgb_to_ycbcr(pixels: bytes, n: int):
    """Interleaved RGB bytes -> (Y, Cb, Cr) float64 arrays of length n
    (JFIF full-range BT.601, truncating conversion like the scalar
    reference: int(v + 0.5) == floor for the non-negative operands
    here)."""
    import numpy as np

    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(n, 3).astype(
        np.float64
    )
    r, g, b = arr[:, 0], arr[:, 1], arr[:, 2]
    y = np.clip(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0, 255)
    cb = np.clip(
        np.floor(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.5), 0, 255
    )
    cr = np.clip(
        np.floor(0.5 * r - 0.418688 * g - 0.081312 * b + 128.5), 0, 255
    )
    return y, cb, cr


def _encode_progressive(width, height, channels, factors, comp_q, comp_t,
                        quants, comp_zz, comp_bw, mcus_x, mcus_y, seq):
    """Assemble a progressive (SOF2) JFIF file from already-quantized
    coefficients: spectral selection (DC scan, then AC bands 1-5 and
    6-63 per component) AND successive approximation (first passes at
    Al=1, one refinement pass each to Al=0). Symbol/bit streams mirror
    libjpeg's jcphuff.c encoders (the public reference for the exact
    buffered-correction-bit order), so the decoder's G.1.2 passes
    invert them exactly; the round-trip oracle is pixel equality with
    the baseline encoding of the same blocks."""
    hmax = max(h for h, _ in factors)
    vmax = max(v for _, v in factors)
    nbw = [-(-(-(-width * h // hmax)) // 8) for h, _ in factors]
    nbh = [-(-(-(-height * v // vmax)) // 8) for _, v in factors]

    def segment(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += segment(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for ti, q in enumerate(quants):
        zzq = bytes(q[z] for z in _JPEG_ZIGZAG)
        out += segment(0xDB, bytes([ti]) + zzq)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci in range(channels):
        h_i, v_i = factors[ci]
        sof += bytes([ci + 1, (h_i << 4) | v_i, comp_q[ci]])
    out += segment(0xC2, sof)  # progressive DCT frame

    def write_scan(scomp_ids, ss, se, ah, al, ops, freqs, cls_kind):
        """Emit DHT(s) for the used table classes + SOS + entropy."""
        codes = {}
        for cls, freq in freqs.items():
            if not freq:
                continue
            bits, huffval, cmap = _jpeg_canonical(_jpeg_huffman_lengths(freq))
            codes[cls] = cmap
            out.extend(segment(
                0xC4,
                bytes([(0 if cls_kind == "dc" else 1) << 4 | cls])
                + bytes(bits[1:]) + bytes(huffval),
            ))
        sos = bytes([len(scomp_ids)])
        for ci in scomp_ids:
            t = comp_t[ci]
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        out.extend(segment(0xDA, sos))
        w = _BitWriter()
        for op in ops:
            if op[0] == "s":
                code, ln = codes[op[1]][op[2]]
                w.write(code, ln)
            else:
                w.write(op[1], op[2])
        w.flush()
        out.extend(w.out)

    all_comps = list(range(channels))

    # ---- scan 1: DC first pass, interleaved, Al=1
    for al in (1,):
        ops = []
        freqs = {0: {}, 1: {}} if channels == 3 else {0: {}}
        pred = [0] * channels
        for ci, zz in seq:
            t = comp_t[ci]
            dc = int(zz[0]) >> al  # arithmetic shift per G.1.2.1
            diff = dc - pred[ci]
            pred[ci] = dc
            size, bv = _jpeg_magnitude(diff)
            ops.append(("s", t, size))
            freqs[t][size] = freqs[t].get(size, 0) + 1
            if size:
                ops.append(("b", bv, size))
        write_scan(all_comps, 0, 0, 0, al, ops, freqs, "dc")

    # ---- scan 2: DC refinement to Al=0 (raw bits, no Huffman)
    ops = [("b", (int(zz[0]) >> 0) & 1, 1) for _ci, zz in seq]
    write_scan(all_comps, 0, 0, 1, 0, ops, {}, "dc")

    bands = ((1, 5), (6, 63))

    def ac_block_rows(ci):
        arr = comp_zz[ci]
        for by in range(nbh[ci]):
            for bx in range(nbw[ci]):
                yield arr[by * comp_bw[ci] + bx]

    # ---- AC first passes (Ah=0, Al=1), one scan per component+band
    for ci in all_comps:
        cls = comp_t[ci]
        for ss, se in bands:
            ops = []
            freq = {}
            eobrun = 0

            def sym(s):
                ops.append(("s", cls, s))
                freq[s] = freq.get(s, 0) + 1

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    nbits = eobrun.bit_length() - 1
                    sym(nbits << 4)
                    if nbits:
                        ops.append(("b", eobrun & ((1 << nbits) - 1), nbits))
                    eobrun = 0

            al = 1
            for row in ac_block_rows(ci):
                tvals = []
                for k in range(ss, se + 1):
                    v = int(row[k])
                    tvals.append((abs(v) >> al) * (1 if v >= 0 else -1))
                nz = [i for i, v in enumerate(tvals) if v]
                if not nz:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                r = 0
                for i in range(nz[-1] + 1):
                    v = tvals[i]
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        sym(0xF0)
                        r -= 16
                    size, bv = _jpeg_magnitude(v)
                    sym((r << 4) | size)
                    ops.append(("b", bv, size))
                    r = 0
                if nz[-1] < se - ss:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
            flush_eob()
            write_scan([ci], ss, se, 0, al, ops, {cls: freq}, "ac")

    # ---- AC refinement passes (Ah=1 -> Al=0)
    for ci in all_comps:
        cls = comp_t[ci]
        for ss, se in bands:
            ops = []
            freq = {}
            eobrun = 0
            be = []  # correction bits pending until the next EOBn

            def sym(s):
                ops.append(("s", cls, s))
                freq[s] = freq.get(s, 0) + 1

            def flush_eob():
                nonlocal eobrun, be
                if eobrun:
                    nbits = eobrun.bit_length() - 1
                    sym(nbits << 4)
                    if nbits:
                        ops.append(("b", eobrun & ((1 << nbits) - 1), nbits))
                    for b in be:
                        ops.append(("b", b, 1))
                    be = []
                    eobrun = 0

            al = 0
            for row in ac_block_rows(ci):
                absv = [abs(int(row[k])) >> al for k in range(ss, se + 1)]
                eob_i = -1  # index (in band) of last NEWLY significant
                for i, t in enumerate(absv):
                    if t == 1:
                        eob_i = i
                r = 0
                br_local = []
                for i in range(len(absv)):
                    t = absv[i]
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and i <= eob_i:
                        flush_eob()
                        sym(0xF0)
                        for b in br_local:
                            ops.append(("b", b, 1))
                        br_local = []
                        r -= 16
                    if t > 1:
                        br_local.append(t & 1)
                        continue
                    flush_eob()
                    sym((r << 4) | 1)
                    ops.append(
                        ("b", 1 if int(row[ss + i]) >= 0 else 0, 1))
                    for b in br_local:
                        ops.append(("b", b, 1))
                    br_local = []
                    r = 0
                if r > 0 or br_local:
                    eobrun += 1
                    be.extend(br_local)
                    if eobrun == 0x7FFF:
                        flush_eob()
            flush_eob()
            write_scan([ci], ss, se, 1, al, ops, {cls: freq}, "ac")

    out += b"\xff\xd9"  # EOI
    return bytes(out)


# chroma sampling layouts: component order (Y, Cb, Cr) -> (h_i, v_i)
_JPEG_SAMPLING = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "440": ((1, 2), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def _plane_blocks(plane, blocks_w: int, blocks_h: int):
    """Edge-pad a 2D float plane to the (blocks_h*8, blocks_w*8) block
    grid and return level-shifted (n, 8, 8) blocks in raster block
    order."""
    import numpy as np

    h, w = plane.shape
    padded = np.pad(
        plane,
        ((0, blocks_h * 8 - h), (0, blocks_w * 8 - w)),
        mode="edge",
    )
    return (
        padded.reshape(blocks_h, 8, blocks_w, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        - 128.0
    )


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    quality: int | None = None,
    restart_interval: int = 0,
    sampling: str = "444",
    progressive: bool = False,
) -> bytes:
    """Pixels -> a complete baseline-sequential JFIF file (VERDICT r6
    §Next #4; r8 adds chroma subsampling per r7 §Next #2).

    ``channels=1``: greyscale, one component. ``channels=3``:
    interleaved RGB -> YCbCr with ``sampling`` one of '444' (no
    subsampling), '422' (2x1), '440' (1x2), or '420' (2x2 — the
    real-world default layout); chroma is box-averaged down and the
    scan interleaves h_i*v_i luma blocks per MCU per T.81 A.2.3.
    ``quality=None`` writes all-ones quant tables so constant 8x8
    tiles (constant 16x16 MCU tiles under 420) survive bit-exactly
    (the oracle-fixture mode); an int 1..100 scales the Annex K
    tables the IJG way. Huffman tables are computed per image
    (two-pass, canonical per T.81 C.2) rather than copied from Annex
    K. DCT/quant runs numpy-vectorized over all blocks of a plane at
    once (r7 §Next #5)."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"expected {width * height * channels} bytes, got {len(pixels)}"
        )
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError("dimensions out of range")
    if sampling not in _JPEG_SAMPLING:
        raise ValueError(f"sampling must be one of {sorted(_JPEG_SAMPLING)}")
    if progressive and restart_interval:
        raise ValueError("restart_interval is not supported with progressive")
    n = width * height
    if channels == 1:
        factors = [(1, 1)]
        full = [
            np.frombuffer(bytes(pixels), dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
        ]
        quants = [_jpeg_quant_table(_JPEG_QUANT_LUMA, quality)]
        comp_q = [0]
        comp_t = [0]
    else:
        factors = list(_JPEG_SAMPLING[sampling])
        y, cb, cr = _rgb_to_ycbcr(pixels, n)
        full = [p.reshape(height, width) for p in (y, cb, cr)]
        quants = [
            _jpeg_quant_table(_JPEG_QUANT_LUMA, quality),
            _jpeg_quant_table(_JPEG_QUANT_CHROMA, quality),
        ]
        comp_q = [0, 1, 1]
        comp_t = [0, 1, 1]
    hmax = max(h for h, _ in factors)
    vmax = max(v for _, v in factors)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    # per component: downsample (box average, edge-padded), then cut
    # into the MCU-aligned block grid; DCT+quant the whole plane at once
    comp_zz = []  # (n_blocks, 64) int32 per component, raster block order
    comp_bw = []
    for ci, (h_i, v_i) in enumerate(factors):
        fx, fy = hmax // h_i, vmax // v_i
        cw = -(-width * h_i // hmax)
        ch = -(-height * v_i // vmax)
        plane = full[ci]
        if fx != 1 or fy != 1:
            padded = np.pad(
                plane,
                ((0, ch * fy - height), (0, cw * fx - width)),
                mode="edge",
            )
            plane = np.floor(
                padded.reshape(ch, fy, cw, fx).mean(axis=(1, 3)) + 0.5
            )
        bw_i, bh_i = mcus_x * h_i, mcus_y * v_i
        blocks = _plane_blocks(plane, bw_i, bh_i)
        comp_zz.append(_fdct_quant_blocks(blocks, quants[comp_q[ci]]))
        comp_bw.append(bw_i)

    # MCU-interleaved block sequence: per MCU, h_i*v_i blocks per
    # component in raster order within the MCU (T.81 A.2.3)
    def mcu_sequence():
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (h_i, v_i) in enumerate(factors):
                    for by in range(v_i):
                        for bx in range(h_i):
                            idx = (my * v_i + by) * comp_bw[ci] + mx * h_i + bx
                            yield ci, comp_zz[ci][idx]

    n_tables = 1 if channels == 1 else 2
    dc_freq = [dict() for _ in range(n_tables)]
    ac_freq = [dict() for _ in range(n_tables)]

    # The symbol stream is deterministic given the blocks and restart
    # interval (DC predictor resets included), so it is generated ONCE
    # and replayed for both passes — pass 1 counts frequencies, pass 2
    # writes bits (r8: was generated twice). Elements: None = restart
    # boundary, else (is_dc, table, symbol, appended_bits, bit_count).
    # ``restart_interval`` > 0 resets DC prediction every N MCUs, so
    # the DRI/RSTn decode path can be exercised with real files.
    n_mcus = mcus_x * mcus_y
    blocks_per_mcu = sum(h_i * v_i for h_i, v_i in factors)
    seq = list(mcu_sequence())
    if progressive:
        return _encode_progressive(
            width, height, channels, factors, comp_q, comp_t, quants,
            comp_zz, comp_bw, mcus_x, mcus_y, seq,
        )
    stream: list = []
    pred = [0] * channels
    for mcu_i in range(n_mcus):
        if restart_interval and mcu_i and mcu_i % restart_interval == 0:
            stream.append(None)
            pred = [0] * channels
        for ci, zz_row in seq[
            mcu_i * blocks_per_mcu : (mcu_i + 1) * blocks_per_mcu
        ]:
            t = comp_t[ci]
            zz = zz_row.tolist()  # one C-level conversion per block
            diff = zz[0] - pred[ci]
            pred[ci] = zz[0]
            size, bits_val = _jpeg_magnitude(diff)
            stream.append((True, t, size, bits_val, size))
            dc_freq[t][size] = dc_freq[t].get(size, 0) + 1
            run = 0
            last_nz = 0
            for i in range(63, 0, -1):
                if zz[i]:
                    last_nz = i
                    break
            af = ac_freq[t]
            for i in range(1, last_nz + 1):
                v = zz[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    stream.append((False, t, 0xF0, 0, 0))
                    af[0xF0] = af.get(0xF0, 0) + 1
                    run -= 16
                size, bits_val = _jpeg_magnitude(v)
                sym = (run << 4) | size
                stream.append((False, t, sym, bits_val, size))
                af[sym] = af.get(sym, 0) + 1
                run = 0
            if last_nz < 63:
                stream.append((False, t, 0x00, 0, 0))
                af[0x00] = af.get(0x00, 0) + 1

    dc_tabs = [_jpeg_canonical(_jpeg_huffman_lengths(f)) for f in dc_freq]
    ac_tabs = [_jpeg_canonical(_jpeg_huffman_lengths(f)) for f in ac_freq]

    # pass 2: entropy-coded scan (replay the stored stream)
    w = _BitWriter()
    dc_codes = [tab[2] for tab in dc_tabs]
    ac_codes = [tab[2] for tab in ac_tabs]
    rst_i = 0
    for item in stream:
        if item is None:
            w.flush()
            w.out += bytes([0xFF, 0xD0 + rst_i % 8])
            rst_i += 1
            continue
        is_dc, t, sym, bits_val, size = item
        code, ln = (dc_codes if is_dc else ac_codes)[t][sym]
        w.write(code, ln)
        if size:
            w.write(bits_val, size)
    w.flush()

    def segment(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += segment(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for ti, q in enumerate(quants):
        zzq = bytes(q[z] for z in _JPEG_ZIGZAG)
        out += segment(0xDB, bytes([ti]) + zzq)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci in range(channels):
        h_i, v_i = factors[ci]
        sof += bytes([ci + 1, (h_i << 4) | v_i, comp_q[ci]])
    out += segment(0xC0, sof)
    for cls, tabs in ((0, dc_tabs), (1, ac_tabs)):
        for ti, (bits, huffval, _codes) in enumerate(tabs):
            out += segment(
                0xC4, bytes([(cls << 4) | ti]) + bytes(bits[1:]) + bytes(huffval)
            )
    if restart_interval:
        out += segment(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([channels])
    for ci in range(channels):
        sos += bytes([ci + 1, (comp_t[ci] << 4) | comp_t[ci]])
    sos += b"\x00\x3f\x00"
    out += segment(0xDA, sos)
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _split_entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Destuff the entropy-coded stream starting at ``pos`` in ONE
    forward pass: returns (segments, end) — the byte segments between
    RSTn markers (FF00 stuffing removed, FF fill-byte runs skipped)
    and the position of the terminating real marker's 0xFF (or
    len(data)). Doing this up front lets the bit reader be pure shift
    arithmetic over a contiguous buffer — no per-byte stuffing checks
    in the hot loop — and the end position lets a progressive decoder
    resume the marker walk after each scan."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(data)
    i = pos
    end = n
    while i < n:
        j = data.find(b"\xff", i)
        if j < 0:
            cur += data[i:]
            break
        cur += data[i:j]
        if j + 1 >= n:
            break
        nxt = data[j + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        elif nxt == 0xFF:
            i = j + 1  # fill byte: re-examine from the next 0xFF
        else:
            end = j  # real marker: end of scan
            break
    segs.append(bytes(cur))
    return segs, end


class _SegReader:
    """MSB-first bit reader over one destuffed entropy segment: an
    integer accumulator refilled a byte at a time; masked after every
    consume so it stays machine-word sized."""

    __slots__ = ("buf", "pos", "acc", "nbits")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        acc, nbits, pos, buf = self.acc, self.nbits, self.pos, self.buf
        while nbits < n:
            if pos >= len(buf):
                raise ValueError("JPEG truncated inside entropy data")
            acc = (acc << 8) | buf[pos]
            pos += 1
            nbits += 8
        nbits -= n
        v = (acc >> nbits) & ((1 << n) - 1)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits, self.pos = nbits, pos
        return v

    def peek(self, n: int) -> int:
        """Next n bits, zero-padded past the end (a padded phantom
        match is caught by skip(), which refuses to consume past the
        real data)."""
        acc, nbits, pos, buf = self.acc, self.nbits, self.pos, self.buf
        while nbits < n and pos < len(buf):
            acc = (acc << 8) | buf[pos]
            pos += 1
            nbits += 8
        self.acc, self.nbits, self.pos = acc, nbits, pos
        if nbits >= n:
            return (acc >> (nbits - n)) & ((1 << n) - 1)
        return (acc << (n - nbits)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        if self.nbits < n:
            raise ValueError("JPEG truncated inside entropy data")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1


def _jpeg_decode_sym(r: "_SegReader", table) -> int:
    """Table-driven Huffman decode (r8, VERDICT r7 §Next #5 follow-on:
    entropy decode was 85% of post-vectorization decode time): an
    8-bit first-level LUT resolves the common short codes in one
    lookup; codes of 9..16 bits fall back to the canonical (len, code)
    dict."""
    lut, longdict = table
    e = lut[r.peek(8)]
    if e is not None:
        r.skip(e[1])
        return e[0]
    code = r.peek(16)
    for ln in range(9, 17):
        sym = longdict.get((ln, code >> (16 - ln)))
        if sym is not None:
            r.skip(ln)
            return sym
    raise ValueError("JPEG invalid Huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_scan_ac_first(row, br, ss, se, al, act, eobrun):
    """Progressive AC first pass (T.81 G.1.2.2) for one block: band
    coefficients at reduced precision with cross-block EOB runs.
    Returns the updated eobrun."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _jpeg_decode_sym(br, act)
        r, s = sym >> 4, sym & 15
        if s:
            k += r
            if k > se:
                raise ValueError("JPEG AC run overflows band")
            row[k] = _jpeg_extend(br.bits(s), s) << al
            k += 1
        else:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.bits(r)
            break
    return eobrun


def _jpeg_scan_ac_refine(row, br, ss, se, al, act, eobrun):
    """Progressive AC refinement pass (T.81 G.1.2.3) for one block:
    newly-significant coefficients plus correction bits for
    previously-significant ones (mirrors libjpeg's
    decode_mcu_AC_refine, the public reference for the bit order).
    Returns the updated eobrun."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _jpeg_decode_sym(br, act)
            r, s = sym >> 4, sym & 15
            s_val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break  # tail below handles this block + decrements
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("JPEG bad AC refinement symbol")
                s_val = p1 if br.bits(1) else m1
            while k <= se:
                if row[k] != 0:
                    if br.bits(1) and (row[k] & p1) == 0:
                        row[k] += p1 if row[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val and k <= se:
                row[k] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            if row[k] != 0:
                if br.bits(1) and (row[k] & p1) == 0:
                    row[k] += p1 if row[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


class _SegmentCursor:
    """Restart-boundary iteration over destuffed entropy segments."""

    def __init__(self, segments: list[bytes]) -> None:
        self.segments = segments
        self.i = 0
        self.br = _SegReader(segments[0])

    def advance(self) -> None:
        self.i += 1
        if self.i >= len(self.segments):
            raise ValueError("JPEG expected restart marker")
        self.br = _SegReader(self.segments[self.i])


def _jpeg_decode_scan(fs, scomps, tabs, segments, restart_interval,
                      ss, se, ah, al):
    """Decode one scan (sequential or any progressive pass) into the
    frame's coefficient buffers. ``scomps``: frame component indices
    in scan order; ``tabs``: (dc_table, ac_table) per scan component
    (either may be None when the pass doesn't use it)."""
    cur = _SegmentCursor(segments)
    pred = [0] * len(scomps)
    interleaved = len(scomps) > 1
    if ss == 0 and se == 63:  # sequential: DC+AC in one pass
        # r12 fast path (ledger study jpeg_entropy_kernel_ab): the
        # entropy loop was ~95% of decode wall as 800k+ Python calls
        # per 256x256 image (_jpeg_decode_sym + _SegReader.peek/bits/
        # skip per coefficient). The bit-reader state lives in LOCAL
        # ints here and the LUT decode + magnitude-bit read are fused
        # inline; semantics are identical to the generic reader
        # (zero-padded phantom peek at segment end, refusal to CONSUME
        # past real data). Progressive scans keep the generic path —
        # they are a small fraction of scan time and three shapes each.
        seg_i = 0
        buf = segments[0] if segments else b""
        blen = len(buf)
        acc = nbits = pos = 0
        mcu_index = 0
        geom = []  # (si, ci, v_i, h_i, dct_lut, dct_long, ac_lut, ac_long, bw)
        for si, ci in enumerate(scomps):
            h_i, v_i = fs["factors"][ci]
            if not interleaved:
                h_i = v_i = 1  # handled by caller geometry
            dct, act = tabs[si]
            geom.append((si, ci, v_i, h_i, dct[0], dct[1], act[0], act[1],
                         fs["bw"][ci]))
        zz_bufs = fs["zz"]
        for my in range(fs["mcus_y"]):
            for mx in range(fs["mcus_x"]):
                if restart_interval and mcu_index and \
                        mcu_index % restart_interval == 0:
                    seg_i += 1
                    if seg_i >= len(segments):
                        raise ValueError(
                            "JPEG truncated: missing restart segment")
                    buf = segments[seg_i]
                    blen = len(buf)
                    acc = nbits = pos = 0
                    pred = [0] * len(scomps)
                mcu_index += 1
                for si, ci, v_i, h_i, dlut, dlong, alut, along, bwc in geom:
                    for iby in range(v_i):
                        for ibx in range(h_i):
                            zz = [0] * 64
                            # --- DC symbol (inline Huffman decode) ---
                            while nbits < 16 and pos < blen:
                                acc = (acc << 8) | buf[pos]
                                pos += 1
                                nbits += 8
                            idx8 = ((acc >> (nbits - 8)) & 255 if nbits >= 8
                                    else (acc << (8 - nbits)) & 255)
                            e = dlut[idx8]
                            if e is not None:
                                size, ln = e[0], e[1]
                            else:
                                code = ((acc >> (nbits - 16)) & 0xFFFF
                                        if nbits >= 16
                                        else (acc << (16 - nbits)) & 0xFFFF)
                                for ln in range(9, 17):
                                    size = dlong.get((ln, code >> (16 - ln)))
                                    if size is not None:
                                        break
                                else:
                                    raise ValueError(
                                        "JPEG invalid Huffman code")
                            if nbits < ln:
                                raise ValueError(
                                    "JPEG truncated inside entropy data")
                            nbits -= ln
                            if size:
                                while nbits < size:
                                    if pos >= blen:
                                        raise ValueError(
                                            "JPEG truncated inside "
                                            "entropy data")
                                    acc = (acc << 8) | buf[pos]
                                    pos += 1
                                    nbits += 8
                                nbits -= size
                                v = (acc >> nbits) & ((1 << size) - 1)
                                pred[si] += (
                                    v if v >= (1 << (size - 1))
                                    else v - (1 << size) + 1
                                )
                            acc &= (1 << nbits) - 1
                            zz[0] = pred[si]
                            # --- AC symbols ---
                            k = 1
                            while k < 64:
                                while nbits < 16 and pos < blen:
                                    acc = (acc << 8) | buf[pos]
                                    pos += 1
                                    nbits += 8
                                idx8 = ((acc >> (nbits - 8)) & 255
                                        if nbits >= 8
                                        else (acc << (8 - nbits)) & 255)
                                e = alut[idx8]
                                if e is not None:
                                    rs, ln = e[0], e[1]
                                else:
                                    code = ((acc >> (nbits - 16)) & 0xFFFF
                                            if nbits >= 16
                                            else (acc << (16 - nbits))
                                            & 0xFFFF)
                                    for ln in range(9, 17):
                                        rs = along.get(
                                            (ln, code >> (16 - ln)))
                                        if rs is not None:
                                            break
                                    else:
                                        raise ValueError(
                                            "JPEG invalid Huffman code")
                                if nbits < ln:
                                    raise ValueError(
                                        "JPEG truncated inside entropy data")
                                nbits -= ln
                                acc &= (1 << nbits) - 1
                                size = rs & 15
                                if size == 0:
                                    if rs >> 4 == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError(
                                        "JPEG AC run overflows block")
                                while nbits < size:
                                    if pos >= blen:
                                        raise ValueError(
                                            "JPEG truncated inside "
                                            "entropy data")
                                    acc = (acc << 8) | buf[pos]
                                    pos += 1
                                    nbits += 8
                                nbits -= size
                                v = (acc >> nbits) & ((1 << size) - 1)
                                acc &= (1 << nbits) - 1
                                zz[k] = (
                                    v if v >= (1 << (size - 1))
                                    else v - (1 << size) + 1
                                )
                                k += 1
                            idx = ((my * v_i + iby) * bwc + mx * h_i + ibx)
                            zz_bufs[ci][idx] = zz
        return
    if ss == 0:  # progressive DC scan (first or refinement)
        mcu_index = 0
        if interleaved:
            for my in range(fs["mcus_y"]):
                for mx in range(fs["mcus_x"]):
                    if restart_interval and mcu_index and \
                            mcu_index % restart_interval == 0:
                        cur.advance()
                        pred = [0] * len(scomps)
                    mcu_index += 1
                    br = cur.br
                    for si, ci in enumerate(scomps):
                        h_i, v_i = fs["factors"][ci]
                        dct, _ = tabs[si]
                        for iby in range(v_i):
                            for ibx in range(h_i):
                                idx = ((my * v_i + iby) * fs["bw"][ci]
                                       + mx * h_i + ibx)
                                arr = fs["zz"][ci]
                                if ah == 0:
                                    size = _jpeg_decode_sym(br, dct)
                                    diff = (_jpeg_extend(br.bits(size), size)
                                            if size else 0)
                                    pred[si] += diff
                                    arr[idx][0] = pred[si] << al
                                elif br.bits(1):
                                    arr[idx][0] |= 1 << al
        else:
            ci = scomps[0]
            dct, _ = tabs[0]
            arr = fs["zz"][ci]
            for by in range(fs["nbh"][ci]):
                for bx in range(fs["nbw"][ci]):
                    if restart_interval and mcu_index and \
                            mcu_index % restart_interval == 0:
                        cur.advance()
                        pred = [0]
                    mcu_index += 1
                    br = cur.br
                    idx = by * fs["bw"][ci] + bx
                    if ah == 0:
                        size = _jpeg_decode_sym(br, dct)
                        diff = (_jpeg_extend(br.bits(size), size)
                                if size else 0)
                        pred[0] += diff
                        arr[idx][0] = pred[0] << al
                    elif br.bits(1):
                        arr[idx][0] |= 1 << al
        return
    # progressive AC scan: single component, non-interleaved
    if interleaved:
        raise ValueError("JPEG progressive AC scan must be single-component")
    ci = scomps[0]
    _, act = tabs[0]
    arr = fs["zz"][ci]
    eobrun = 0
    mcu_index = 0
    for by in range(fs["nbh"][ci]):
        for bx in range(fs["nbw"][ci]):
            if restart_interval and mcu_index and \
                    mcu_index % restart_interval == 0:
                cur.advance()
                eobrun = 0
            mcu_index += 1
            row = arr[by * fs["bw"][ci] + bx]
            if ah == 0:
                eobrun = _jpeg_scan_ac_first(
                    row, cur.br, ss, se, al, act, eobrun)
            else:
                eobrun = _jpeg_scan_ac_refine(
                    row, cur.br, ss, se, al, act, eobrun)


def decode_jpeg(data: bytes) -> dict:
    """JFIF bytes -> dims + pixel stats + RGB/grey pixels. Marker
    walk, DQT (8- and 16-bit), canonical DHT rebuild + 8-bit LUT
    (T.81 C.2), Huffman + magnitude decode, vectorized dequant + float
    IDCT, optional DRI/RSTn. Greyscale and YCbCr with ANY sampling
    factors 1..4 per component (4:4:4, 4:2:2, 4:4:0, 4:2:0 — the
    real-world camera default): the MCU loop follows per-component
    (h_i, v_i) geometry per T.81 A.2.3 and chroma upsamples by
    nearest-index replication. BOTH baseline-sequential (SOF0) and
    progressive (SOF2 — spectral selection AND successive
    approximation, per-scan DC/AC first + refinement passes with
    cross-block EOB runs, r8) decode; extended/arithmetic/lossless
    SOFs and 12-bit raise ValueError — callers dispatch, they don't
    guess."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    import numpy as np

    pos = 2
    quants: dict[int, list[int]] = {}
    dc_tables: dict[int, tuple] = {}
    ac_tables: dict[int, tuple] = {}
    frame = None
    progressive = False
    restart_interval = 0
    fs = None  # frame geometry + coefficient state, built at first SOS
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker code — skip the run so a padded file parses (r7 ADVICE).
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            raise ValueError("JPEG truncated at marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if fs is None:
                raise ValueError("JPEG contains no scan")
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(data):
            raise ValueError("JPEG truncated in segment header")
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG truncated segment")
        pos += seg_len
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                zzq = [0] * 64
                if pq == 0:
                    for i in range(64):
                        zzq[i] = seg[p + i]
                    p += 64
                elif pq == 1:
                    for i in range(64):
                        zzq[i] = struct.unpack_from(">H", seg, p + 2 * i)[0]
                    p += 128
                else:
                    raise ValueError("JPEG bad DQT precision")
                q = [0] * 64
                for i, z in enumerate(_JPEG_ZIGZAG):
                    q[z] = zzq[i]
                quants[tq] = q
        elif marker == 0xC4:
            p = 0
            while p < len(seg):
                cls, ti = seg[p] >> 4, seg[p] & 15
                counts = seg[p + 1 : p + 17]
                p += 17
                table: dict[tuple[int, int], int] = {}
                lut: list = [None] * 256
                code = 0
                for ln in range(1, 17):
                    for _ in range(counts[ln - 1]):
                        sym = seg[p]
                        table[(ln, code)] = sym
                        if ln <= 8:  # first-level LUT fill
                            base = code << (8 - ln)
                            entry = (sym, ln)
                            for k in range(1 << (8 - ln)):
                                lut[base + k] = entry
                        code += 1
                        p += 1
                    code <<= 1
                (dc_tables if cls == 0 else ac_tables)[ti] = (lut, table)
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("JPEG 12-bit precision unsupported")
            if nc not in (1, 3):
                raise ValueError(f"JPEG {nc}-component unsupported")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i : 9 + 3 * i]
                h_i, v_i = samp >> 4, samp & 15
                if not (1 <= h_i <= 4 and 1 <= v_i <= 4):
                    raise ValueError(f"JPEG bad sampling factors {h_i}x{v_i}")
                comps.append((cid, h_i, v_i, tq))
            if nc == 1:
                # T.81 A.2: with one component every scan is
                # non-interleaved; factors don't shape the MCU grid
                cid, _h, _v, tq = comps[0]
                comps = [(cid, 1, 1, tq)]
            frame = (w, h, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF 0x{marker:02x} (non-baseline) unsupported")
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("JPEG truncated scan header")
            width, height, comps = frame
            by_id = {c[0]: i for i, c in enumerate(comps)}
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("JPEG bad sequential scan header")
            if progressive and (se > 63 or ss > se or al > 13):
                raise ValueError("JPEG bad progressive scan header")
            scomps = []
            tabs = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i : 3 + 2 * i]
                if cs not in by_id:
                    raise ValueError("JPEG scan names unknown component")
                td, ta = tt >> 4, tt & 15
                need_dc = ss == 0 and (ah == 0 or not progressive)
                need_ac = se > 0
                dct = None
                act = None
                if need_dc:
                    if td not in dc_tables:
                        raise ValueError("JPEG missing quant/Huffman table")
                    dct = dc_tables[td]
                if need_ac:
                    if ta not in ac_tables:
                        raise ValueError("JPEG missing quant/Huffman table")
                    act = ac_tables[ta]
                scomps.append(by_id[cs])
                tabs.append((dct, act))
            if not progressive and len(scomps) != len(comps):
                raise ValueError("JPEG scan/frame component mismatch")
            ep = pos - (len(seg) - (1 + 2 * ns + 3))  # entropy start
            segments, end = _split_entropy_segments(data, ep)
            if fs is None:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus_x = -(-width // (8 * hmax))
                mcus_y = -(-height // (8 * vmax))
                bw = [mcus_x * c[1] for c in comps]
                bh = [mcus_y * c[2] for c in comps]
                n_blocks_total = sum(
                    bw[i] * bh[i] for i in range(len(comps)))
                # plausibility guards BEFORE allocating coefficient
                # buffers: a corrupt SOF declaring a frame far larger
                # than the remaining payload (>= ~2 bits/block across
                # all scans) must fail here, not OOM the executor
                remaining_bits = (len(data) - ep) * 8
                if n_blocks_total * 2 > remaining_bits:
                    raise ValueError(
                        "JPEG truncated: frame larger than entropy data")
                if n_blocks_total > (1 << 22):
                    raise ValueError("JPEG frame too large for this decoder")
                fs = {
                    "width": width,
                    "height": height,
                    "hmax": hmax,
                    "vmax": vmax,
                    "mcus_x": mcus_x,
                    "mcus_y": mcus_y,
                    "factors": [(c[1], c[2]) for c in comps],
                    "tq": [c[3] for c in comps],
                    "bw": bw,
                    "bh": bh,
                    # non-interleaved grid: ceil(comp_dim / 8) where
                    # comp_dim = ceil(frame_dim * factor / max_factor)
                    "nbw": [
                        -(-(-(-width * c[1] // hmax)) // 8) for c in comps
                    ],
                    "nbh": [
                        -(-(-(-height * c[2] // vmax)) // 8) for c in comps
                    ],
                    # coefficient rows are PYTHON lists during the
                    # entropy scans (r12: per-element numpy scalar
                    # indexing dominated progressive AC refine wall;
                    # lists are ~3x faster there) and convert to one
                    # numpy array at the batched IDCT below
                    "zz": [
                        [[0] * 64 for _ in range(bw[i] * bh[i])]
                        for i in range(len(comps))
                    ],
                }
            _jpeg_decode_scan(fs, scomps, tabs, segments, restart_interval,
                              ss, se, ah, al)
            pos = end
        # APPn / COM / anything else with a length: skipped
    if fs is None or frame is None:
        raise ValueError("JPEG contains no scan")
    width, height, comps = frame
    nc = len(comps)
    for tq in fs["tq"]:
        if tq not in quants:
            raise ValueError("JPEG missing quant/Huffman table")
    hmax, vmax = fs["hmax"], fs["vmax"]
    # vectorized dequant + IDCT + plane assembly + upsample per comp
    planes = []
    for ci in range(nc):
        h_i, v_i = fs["factors"][ci]
        blocks = _idct_blocks(fs["zz"][ci], quants[fs["tq"][ci]])
        plane = (
            blocks.reshape(fs["bh"][ci], fs["bw"][ci], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(fs["bh"][ci] * 8, fs["bw"][ci] * 8)
        )
        # crop to the component's real sample dims, then upsample to
        # full resolution by nearest-index replication
        cw = -(-width * h_i // hmax)
        ch = -(-height * v_i // vmax)
        plane = plane[:ch, :cw]
        ys = (np.arange(height) * v_i) // vmax
        xs = (np.arange(width) * h_i) // hmax
        planes.append(plane[np.ix_(ys, xs)].astype(np.float64))
    if nc == 1:
        pixels = bytearray(planes[0].astype(np.uint8).tobytes())
        channels = 1
    else:
        Y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        rgb = np.stack(
            (
                Y + 1.402 * cr,
                Y - 0.344136 * cb - 0.714136 * cr,
                Y + 1.772 * cb,
            ),
            axis=-1,
        )
        pixels = bytearray(
            np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8).tobytes()
        )
        channels = 3
    n = len(pixels)
    return {
        "kind": "jpeg",
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": 8,
        "n_pixels": width * height,
        "mean_value": sum(pixels) / n if n else 0.0,
        "min_value": min(pixels) if n else 0,
        "max_value": max(pixels) if n else 0,
        "pixels": bytes(pixels),
    }
