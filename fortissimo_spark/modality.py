"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side contract — schemas, Arrow batch shapes, ``mapInPandas``
signatures, partitioning — is real and tested, and so is the decode step
for the formats decodable without external codecs: baseline JPEG (full
huffman + IDCT pipeline, jpeg.py), PNG (stdlib zlib + filter
reconstruction, 8-bit gray/gray+alpha/RGB/RGBA, non-interlaced),
lossless WebP (full VP8L bitstream, vp8l.py), lossy WebP (full RFC
6386 VP8 keyframe decode, vp8.py — bit-exact vs libwebp), GIF (full
LZW + interlacing + color tables, first frame), BMP (uncompressed
24/32-bit) and PPM (P6/P3) images produce real dimensions and a
pixel-derived 4x4 grayscale feature grid; WAV PCM audio produces real sample rate /
channels / duration and a 16-window RMS loudness profile. The remaining
codec formats get header-only sniffing (``sniff_media``): animated
WebP and AVIF yield real dimensions, mp3 (incl. Xing VBR), FLAC
STREAMINFO and Ogg Vorbis/Opus yield real sample rate / channels /
duration, mp4/ISO-BMFF yields real dimensions + mvhd duration — so the
typed metadata columns populate without a codec library, while the
pixel/sample summaries for those formats remain digest stand-ins.
Fully-unrecognized formats (raw video codecs, ...) raise ``NotImplementedError``/``ValueError`` unless
``deterministic_fake=True``, which substitutes a seeded content-derived
stand-in so downstream plumbing stays exercisable end-to-end.
"""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from .batches import row_kernel

__all__ = ["MEDIA_SCHEMA", "IMAGE_FEATURES_SCHEMA", "AUDIO_FEATURES_SCHEMA",
           "decode_image", "decode_bmp", "decode_ppm", "decode_png", "decode_gif",
           "decode_wav",
           "decode_audio", "make_image_feature_kernel",
           "make_audio_feature_kernel", "image_features", "audio_features",
           "sample_frames", "decode_video_frames", "FRAME_SCHEMA",
           "sniff_media", "sniff_webp", "sniff_gif",
           "sniff_avif", "sniff_mp3", "sniff_mp4", "sniff_flac",
           "sniff_ogg",
           "media_metadata", "MEDIA_METADATA_SCHEMA",
           "image_dhash", "with_image_dhash", "image_near_dups",
           "audio_fingerprint", "with_audio_fingerprint", "audio_near_dups"]

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # image | audio | video
    StructField("payload", BinaryType()),        # opaque encoded bytes
    StructField("mime", StringType()),
    StructField("width", IntegerType()),         # nullable typed metadata
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("out_width", IntegerType()),
    StructField("out_height", IntegerType()),
    StructField("n_bytes", IntegerType()),
    StructField("feature", ArrayType(FloatType())),  # dim-16 embedding
])


def _gray_grid(width: int, height: int, gray_at, grid=4) -> bytes:
    """Block-averaged grayscale summary (0-255 per cell), row-major —
    the content-derived feature source for decoded images. ``grid`` is
    an int (square) or a (cols, rows) pair (the 9x8 dHash shape)."""
    gw, gh = (grid, grid) if isinstance(grid, int) else grid
    cells = []
    for gy in range(gh):
        y0, y1 = gy * height // gh, max((gy + 1) * height // gh, gy * height // gh + 1)
        y1 = min(y1, height)
        for gx in range(gw):
            x0, x1 = gx * width // gw, max((gx + 1) * width // gw, gx * width // gw + 1)
            x1 = min(x1, width)
            total = n = 0
            for y in range(y0, y1):
                for x in range(x0, x1):
                    total += gray_at(x, y)
                    n += 1
            cells.append(total // n if n else 0)
    return bytes(cells)


def decode_bmp(payload: bytes, grid=4):
    """Pure-Python decode of uncompressed 24/32-bit BI_RGB BMP →
    (width, height, 4x4 grayscale grid)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_offset = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0 or bpp not in (24, 32) or width <= 0 or height == 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    bytes_pp = bpp // 8
    stride = (width * bytes_pp + 3) & ~3

    def gray_at(x: int, y: int) -> int:
        row = y if top_down else height - 1 - y
        p = pixel_offset + row * stride + x * bytes_pp
        b, g, r = payload[p], payload[p + 1], payload[p + 2]
        return (r * 299 + g * 587 + b * 114) // 1000

    return width, height, _gray_grid(width, height, gray_at, grid)


def _ico_entries(payload: bytes):
    """Directory entries of an ICO/CUR file: [(w, h, bpp, off, size)]
    with the 0-means-256 rule applied. None when not an ICO."""
    if len(payload) < 6 or payload[0:2] != b"\x00\x00" \
            or payload[2:4] not in (b"\x01\x00", b"\x02\x00"):
        return None
    n = int.from_bytes(payload[4:6], "little")
    if not n or len(payload) < 6 + 16 * n:
        return None
    out = []
    for k in range(n):
        e = payload[6 + 16 * k:6 + 16 * k + 16]
        w = e[0] or 256
        h = e[1] or 256
        bpp = int.from_bytes(e[6:8], "little")
        size = int.from_bytes(e[8:12], "little")
        off = int.from_bytes(e[12:16], "little")
        if off + size > len(payload):
            return None
        out.append((w, h, bpp, off, size))
    return out


def decode_ico(payload: bytes, grid=4):
    """Pure-Python ICO (favicon) decode -> (width, height, luma grid)
    for the LARGEST directory entry. PNG-compressed entries reuse
    decode_png; classic DIB entries (BITMAPINFOHEADER with doubled
    height, 32/24-bit direct or 8/4/1-bit paletted + the 1-bit AND
    transparency mask) decode directly, transparent pixels flattened
    over white — the favicon-over-page-background convention."""
    entries = _ico_entries(payload)
    if not entries:
        raise ValueError("not an ICO")
    w, h, _, off, size = max(entries, key=lambda e: (e[0] * e[1], e[2]))
    data = payload[off:off + size]
    if data[:8] == _PNG_SIG:
        return decode_png(data, grid)
    if len(data) < 40 or int.from_bytes(data[0:4], "little") != 40:
        raise ValueError("unsupported ICO entry header")
    bw = int.from_bytes(data[4:8], "little", signed=True)
    bh = int.from_bytes(data[8:12], "little", signed=True) // 2
    bpp = int.from_bytes(data[14:16], "little")
    compression = int.from_bytes(data[16:20], "little")
    if compression != 0 or bw <= 0 or bh <= 0:
        raise ValueError("unsupported ICO DIB")
    n_colors = int.from_bytes(data[32:36], "little")
    if bpp <= 8 and not n_colors:
        n_colors = 1 << bpp
    pal_off = 40
    pal = data[pal_off:pal_off + 4 * (n_colors if bpp <= 8 else 0)]
    px_off = pal_off + len(pal)
    xor_stride = (bw * bpp + 31) // 32 * 4
    and_off = px_off + xor_stride * bh
    and_stride = (bw + 31) // 32 * 4

    def luma_at(x: int, y: int) -> int:
        row = bh - 1 - y  # bottom-up, both masks
        mbyte = data[and_off + row * and_stride + (x >> 3)] \
            if and_off + row * and_stride + (x >> 3) < len(data) else 0
        if (mbyte >> (7 - (x & 7))) & 1:
            return 255  # transparent: white page background
        p = px_off + row * xor_stride
        if bpp == 32:
            b, g, r, a = data[p + 4 * x:p + 4 * x + 4]
            lum = (r * 299 + g * 587 + b * 114) // 1000
            # 32-bit icons may carry a real alpha channel instead of
            # relying on the AND mask
            return (lum * a + 255 * (255 - a)) // 255
        if bpp == 24:
            b, g, r = data[p + 3 * x:p + 3 * x + 3]
        else:
            if bpp == 8:
                idx = data[p + x]
            elif bpp == 4:
                idx = (data[p + (x >> 1)] >> (0 if x & 1 else 4)) & 0xF
            elif bpp == 1:
                idx = (data[p + (x >> 3)] >> (7 - (x & 7))) & 1
            else:
                raise ValueError(f"unsupported ICO bpp {bpp}")
            if 4 * idx + 3 > len(pal):
                return 0
            b, g, r = pal[4 * idx], pal[4 * idx + 1], pal[4 * idx + 2]
        return (r * 299 + g * 587 + b * 114) // 1000

    return bw, bh, _gray_grid(bw, bh, luma_at, grid)


def sniff_ico(raw: bytes):
    """(width, height, n_entries) for an ICO/CUR payload, else None —
    dims of the largest directory entry."""
    entries = _ico_entries(raw)
    if not entries:
        return None
    w, h, *_ = max(entries, key=lambda e: (e[0] * e[1], e[2]))
    return w, h, len(entries)


def sniff_svg(raw: bytes):
    """(width, height) for an SVG payload — absolute px width/height
    attributes, else the viewBox box, else (None, None); None when the
    payload isn't SVG. Text scan over the first tag only."""
    import re
    head = raw[:4096].lstrip(b"\xef\xbb\xbf \t\r\n")
    if not (head.startswith(b"<svg") or (head.startswith(b"<?xml")
                                         and b"<svg" in head)
            or (head.startswith(b"<!DOCTYPE svg") and b"<svg" in head)):
        return None
    m = re.search(rb"<svg\b[^>]*>", raw[:8192], re.S)
    if not m:
        return None
    tag = m.group(0)

    def dim(name):
        dm = re.search(rb"\b" + name + rb"\s*=\s*[\"']\s*([0-9.]+)"
                       rb"\s*(px)?\s*[\"']", tag)
        return int(float(dm.group(1))) if dm else None

    w, h = dim(b"width"), dim(b"height")
    if w is None or h is None:
        vb = re.search(rb"\bviewBox\s*=\s*[\"']\s*([-0-9. ,]+)[\"']",
                       tag)
        if vb:
            parts = vb.group(1).replace(b",", b" ").split()
            if len(parts) == 4:
                try:
                    w = w or int(float(parts[2]))
                    h = h or int(float(parts[3]))
                except ValueError:
                    pass
    return w, h


def sniff_tiff(raw: bytes):
    """(width, height) from the first IFD of a TIFF, else None."""
    if raw[:4] == b"II*\x00":
        bo = "little"
    elif raw[:4] == b"MM\x00*":
        bo = "big"
    else:
        return None
    if len(raw) < 8:
        return None
    ifd = int.from_bytes(raw[4:8], bo)
    if ifd + 2 > len(raw):
        return None
    n = int.from_bytes(raw[ifd:ifd + 2], bo)
    w = h = None
    for k in range(n):
        e = raw[ifd + 2 + 12 * k:ifd + 2 + 12 * k + 12]
        if len(e) < 12:
            break
        tag = int.from_bytes(e[0:2], bo)
        typ = int.from_bytes(e[2:4], bo)
        val = int.from_bytes(e[8:10] if typ == 3 else e[8:12], bo)
        if tag == 256:
            w = val
        elif tag == 257:
            h = val
    if w is None or h is None:
        return None
    return w, h


def decode_ppm(payload: bytes, grid=4):
    """Pure-Python decode of PPM P6 (binary) / P3 (ascii), maxval <= 255 →
    (width, height, 4x4 grayscale grid)."""
    if payload[:2] not in (b"P6", b"P3"):
        raise ValueError("not a PPM")
    binary = payload[:2] == b"P6"
    # header: magic, width, height, maxval — whitespace/comment separated
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i] in b" \t\r\n":
            i += 1
        if i < len(payload) and payload[i:i + 1] == b"#":
            while i < len(payload) and payload[i] not in b"\r\n":
                i += 1
            continue
        j = i
        while j < len(payload) and payload[j] not in b" \t\r\n":
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    width, height, maxval = fields
    if maxval > 255 or width <= 0 or height <= 0:
        raise ValueError("unsupported PPM")
    i += 1  # single whitespace after maxval
    if binary:
        raster = payload[i:i + width * height * 3]
    else:
        raster = bytes(int(v) for v in payload[i:].split())
    if len(raster) < width * height * 3:
        raise ValueError("truncated PPM raster")

    def gray_at(x: int, y: int) -> int:
        p = (y * width + x) * 3
        return (raster[p] * 299 + raster[p + 1] * 587 + raster[p + 2] * 114) // 1000

    return width, height, _gray_grid(width, height, gray_at, grid)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, pos: int, height: int, stride: int,
                  fu: int) -> tuple[bytearray, int]:
    """Reconstruct one (sub-)image's filtered scanlines (types 0 None /
    1 Sub / 2 Up / 3 Average / 4 Paeth per the PNG spec). ``fu`` is the
    filter unit in bytes (ceil(bits-per-pixel / 8), min 1 — sub-byte
    depths filter with a 1-byte unit). Returns (raster, new_pos)."""
    recon = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        if pos >= len(raw):
            raise ValueError("truncated PNG raster")
        ftype = raw[pos]
        pos += 1
        row = bytearray(raw[pos:pos + stride])
        if len(row) < stride:
            raise ValueError("truncated PNG raster")
        pos += stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for x in range(fu, stride):
                row[x] = (row[x] + row[x - fu]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = row[x - fu] if x >= fu else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - fu] if x >= fu else 0
                b = prev[x]
                c = prev[x - fu] if x >= fu else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        recon[y * stride:(y + 1) * stride] = row
        prev = row
    return recon, pos


# Adam7: (xstart, ystart, xstep, ystep) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def decode_png(payload: bytes, grid=4):
    """Pure-Python PNG decode → (width, height, 4x4 grayscale grid).

    Dependency-free (stdlib zlib), same honest pattern as pdf.py's
    FlateDecode: chunk walk, IDAT inflate, full filter reconstruction,
    every legal IHDR combination — color types 0 (gray, depths
    1/2/4/8/16), 2 (RGB 8/16), 3 (palette, depths 1/2/4/8 + PLTE),
    4 (gray+alpha 8/16), 6 (RGBA 8/16) — and Adam7 interlacing. The
    unfilter loop is per-byte Python — fine for thumbnail-scale crawl
    images inside an Arrow-batched kernel; a numpy path would only help
    filters 0/2 (Sub/Average/Paeth carry a sequential dependency along
    the scanline). ``grid=None`` switches to the internal pixel-level
    contract — (width, height, luma list, alpha list-or-None) — used
    by the APNG compositor."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    width = height = None
    bit_depth = color_type = interlace = None
    plte = b""
    _png_trns = b""
    idat: list[bytes] = []
    i = 8
    while i + 8 <= len(payload):
        length = int.from_bytes(payload[i:i + 4], "big")
        ctype = payload[i + 4:i + 8]
        data = payload[i + 8:i + 8 + length]
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("truncated IHDR")
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, _comp, _filt, interlace = data[8:13]
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            _png_trns = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        i += 12 + length  # length + type + data + crc32
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if not width or not height or width <= 0 or height <= 0:
        raise ValueError("bad PNG dimensions")
    legal_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}
    if channels is None or bit_depth not in legal_depths[color_type] \
            or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, "
            f"color_type={color_type}, interlace={interlace})")
    if color_type == 3 and (not plte or len(plte) % 3):
        raise ValueError("palette PNG without a valid PLTE chunk")
    raw = zlib.decompress(b"".join(idat))
    bpp = channels * bit_depth  # bits per pixel
    fu = max(1, bpp // 8)

    def stride_of(w: int) -> int:
        return (w * bpp + 7) // 8

    # samples[y*width + x] = first 1-3 channel values (palette: the index)
    if interlace == 0:
        recon, _ = _png_unfilter(raw, 0, height, stride_of(width), fu)
        passes = [((0, 0, 1, 1), width, height, recon)]
    else:
        passes = []
        pos = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            recon, pos = _png_unfilter(raw, pos, ph, stride_of(pw), fu)
            passes.append(((x0, y0, dx, dy), pw, ph, recon))

    maxval = (1 << bit_depth) - 1
    nsamp = channels
    samples = [0] * (width * height * nsamp)
    for (x0, y0, dx, dy), pw, ph, recon in passes:
        stride = stride_of(pw)
        for py in range(ph):
            oy = y0 + py * dy
            base = py * stride
            for px_i in range(pw):
                ox = x0 + px_i * dx
                out = (oy * width + ox) * nsamp
                if bit_depth == 8:
                    p = base + px_i * channels
                    for c in range(nsamp):
                        samples[out + c] = recon[p + c]
                elif bit_depth == 16:
                    p = base + px_i * channels * 2
                    for c in range(nsamp):
                        samples[out + c] = recon[p + c * 2]  # high byte
                else:  # 1/2/4-bit gray or palette index
                    bitpos = px_i * bpp
                    byte = recon[base + (bitpos >> 3)]
                    shift = 8 - bit_depth - (bitpos & 7)
                    samples[out] = (byte >> shift) & maxval

    def gray_at(x: int, y: int) -> int:
        p = (y * width + x) * nsamp
        if color_type == 3:
            q = samples[p] * 3
            if q + 3 > len(plte):
                return 0
            return (plte[q] * 299 + plte[q + 1] * 587
                    + plte[q + 2] * 114) // 1000
        if nsamp >= 3:
            return (samples[p] * 299 + samples[p + 1] * 587
                    + samples[p + 2] * 114) // 1000
        v = samples[p]  # gray / gray+alpha: first channel IS the luma
        # sub-byte depths scale to 0..255; 16-bit stored its high byte
        return v * 255 // maxval if bit_depth < 8 else v

    if grid is None:
        # internal pixel-level entry (APNG compositing): luma + alpha
        trns = _png_trns
        luma = [gray_at(x, y) for y in range(height) for x in range(width)]
        alpha = None
        if channels in (2, 4):
            a_off = channels - 1
            alpha = []
            for pidx in range(width * height):
                v = samples[pidx * nsamp + a_off]
                alpha.append(v * 255 // maxval if bit_depth < 8 else
                             (v if bit_depth == 8 else v))
        elif color_type == 3 and trns:
            alpha = [trns[samples[pidx * nsamp]]
                     if samples[pidx * nsamp] < len(trns) else 255
                     for pidx in range(width * height)]
        return width, height, luma, alpha
    return width, height, _gray_grid(width, height, gray_at, grid)


# --- header-only sniffing (codec-format metadata without decode) --------
# Fills the typed metadata columns (width/height/duration) for the formats
# whose PIXEL/SAMPLE decode still needs an external codec: WebP (all three
# bitstream flavors, RIFF spec), GIF (logical screen descriptor), AVIF
# (ISO-BMFF ispe property box), and mp3 (first MPEG audio frame header +
# CBR duration estimate, ID3v2 skip). All offsets are from the public
# container specs; a recognized-but-malformed header raises ValueError.

def sniff_webp(raw: bytes):
    """(width, height, flavor) for a WebP payload, else None."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        return None
    fourcc, d = raw[12:16], raw[20:]
    if fourcc == b"VP8 ":  # lossy: 3B frame tag, 3B start code, 2x u16le
        if d[3:6] != b"\x9d\x01\x2a":
            raise ValueError("bad VP8 start code")
        w = int.from_bytes(d[6:8], "little") & 0x3FFF
        h = int.from_bytes(d[8:10], "little") & 0x3FFF
        return w, h, "vp8"
    if fourcc == b"VP8L":  # lossless: 1B signature, 14+14 bits (w-1, h-1)
        if d[0:1] != b"\x2f":
            raise ValueError("bad VP8L signature")
        bits = int.from_bytes(d[1:5], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "vp8l"
    if fourcc == b"VP8X":  # extended: flags+reserved, 2x 24-bit LE minus-one
        if len(d) < 10:
            raise ValueError("truncated VP8X header")
        w = int.from_bytes(d[4:7], "little") + 1
        h = int.from_bytes(d[7:10], "little") + 1
        return w, h, "vp8x"
    raise ValueError(f"unknown WebP chunk {fourcc!r}")


def sniff_gif(raw: bytes):
    """(width, height, duration_ms_or_None) from the GIF logical screen
    descriptor, else None. Duration is the sum of Graphic Control
    Extension frame delays (x10 ms) for ANIMATED GIFs via a header-only
    block walk (color tables + image data skipped by length, no LZW
    decode); a single frame with no delay reports None."""
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    if len(raw) < 13:
        raise ValueError("truncated GIF header")
    w = int.from_bytes(raw[6:8], "little")
    h = int.from_bytes(raw[8:10], "little")
    pos = 13
    if raw[10] & 0x80:
        pos += 3 * (2 << (raw[10] & 7))
    frames = 0
    delay_cs = 0
    while pos < len(raw):
        b = raw[pos]
        if b == 0x21:  # extension
            if pos + 2 < len(raw) and raw[pos + 1] == 0xF9 \
                    and raw[pos + 2] >= 4:
                delay_cs += int.from_bytes(raw[pos + 4:pos + 6], "little")
            pos += 2
            while pos < len(raw) and raw[pos]:
                pos += 1 + raw[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            frames += 1
            ip = raw[pos + 9] if pos + 9 < len(raw) else 0
            pos += 10
            if ip & 0x80:
                pos += 3 * (2 << (ip & 7))
            pos += 1  # LZW min code size
            while pos < len(raw) and raw[pos]:
                pos += 1 + raw[pos]
            pos += 1
        else:  # trailer or junk: stop the walk
            break
    dur = delay_cs * 10 if frames > 1 and delay_cs else None
    return w, h, dur


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytes:
    """GIF-flavor LZW (variable code width, LSB-first packing, clear/end
    codes, 12-bit dictionary cap) -> palette indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    # dictionary as (prefix_code, last_byte); roots are -1-prefixed
    prefix: list[int] = []
    suffix: list[int] = []

    def reset():
        nonlocal width, next_code, prev
        prefix[:] = [-1] * clear + [-1, -1]
        suffix[:] = list(range(clear)) + [0, 0]
        width = min_code_size + 1
        next_code = end + 1
        prev = -1

    width = next_code = 0
    prev = -1
    reset()
    acc = nbits = 0

    def first_byte(code: int) -> int:
        while prefix[code] != -1:
            code = prefix[code]
        return suffix[code]

    def expand(code: int) -> bytes:
        chunk = bytearray()
        while code != -1:
            chunk.append(suffix[code])
            code = prefix[code]
        chunk.reverse()
        return chunk

    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                continue
            if code == end:
                return bytes(out)
            if code < next_code:
                out += expand(code)
                if prev != -1 and next_code < 4096:
                    prefix.append(prev)
                    suffix.append(first_byte(code))
                    next_code += 1
            elif code == next_code and prev != -1:
                # the KwKwK case: new entry = prev + first byte of prev
                fb = first_byte(prev)
                prefix.append(prev)
                suffix.append(fb)
                next_code += 1
                out += expand(code)
            else:
                raise ValueError("bad LZW code")
            prev = code
            if next_code == (1 << width) and width < 12:
                width += 1
            if len(out) >= max_pixels:
                return bytes(out)
    return bytes(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes, grid=4):
    """Pure-Python GIF decode -> (width, height, 4x4 grayscale grid) for
    the FIRST image (animated GIFs summarize their first frame — the
    header-sniff columns carry the container dims). Full GIF87a/89a
    LZW (variable code width, clear/end, the KwKwK case), global + local
    color tables, interlacing, frames positioned inside the logical
    screen (uncovered area = background index)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    if not sw or not sh:
        raise ValueError("bad GIF dimensions")
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            left = int.from_bytes(payload[pos + 1:pos + 3], "little")
            top = int.from_bytes(payload[pos + 3:pos + 5], "little")
            iw = int.from_bytes(payload[pos + 5:pos + 7], "little")
            ih = int.from_bytes(payload[pos + 7:pos + 9], "little")
            ip = payload[pos + 9]
            pos += 10
            table = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                table = payload[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image without a color table")
            mcs = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                lzw += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(lzw), mcs, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF image data")
            if ip & 0x40:  # interlaced: 4-pass row order
                rows = []
                for start, step in _GIF_INTERLACE:
                    rows.extend(range(start, ih, step))
                de = bytearray(iw * ih)
                for src_row, dst_row in enumerate(rows):
                    de[dst_row * iw:(dst_row + 1) * iw] = \
                        idx[src_row * iw:(src_row + 1) * iw]
                idx = bytes(de)

            def gray_at(x: int, y: int) -> int:
                fx, fy = x - left, y - top
                i = idx[fy * iw + fx] if (0 <= fx < iw and 0 <= fy < ih) \
                    else bg
                p = 3 * i
                if p + 3 > len(table):
                    return 0
                return (table[p] * 299 + table[p + 1] * 587
                        + table[p + 2] * 114) // 1000

            return sw, sh, _gray_grid(sw, sh, gray_at, grid)
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{b:02x}")
    raise ValueError("GIF with no image data")


def sniff_avif(raw: bytes):
    """(width, height) from an AVIF's ispe property box, else None."""
    if raw[4:8] != b"ftyp" or b"avif" not in raw[8:32]:
        return None
    i = raw.find(b"ispe")
    if i < 0 or len(raw) < i + 16:
        raise ValueError("AVIF without readable ispe box")
    return (int.from_bytes(raw[i + 8:i + 12], "big"),
            int.from_bytes(raw[i + 12:i + 16], "big"))


_MP3_BITRATES = {  # kbps, Layer III (0 = free, 15 = bad)
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    0: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def sniff_mp3(raw: bytes):
    """(sample_rate, n_channels, bitrate_kbps, duration_ms) from the first
    Layer-III frame header, else None. Duration: a VBR file's Xing/Info
    header (frame count x 1152-or-576 samples / rate — the accurate
    header-only figure) when present in the first frame, else the CBR
    estimate over the audio bytes after any ID3v2 tag."""
    pos = 0
    if raw[:3] == b"ID3" and len(raw) >= 10:
        pos = 10 + int.from_bytes(
            bytes(b & 0x7F for b in raw[6:10]), "big")  # synchsafe
    while pos + 4 <= len(raw):
        b0, b1, b2, b3 = raw[pos:pos + 4]
        if b0 == 0xFF and (b1 & 0xE0) == 0xE0:
            version = (b1 >> 3) & 3       # 3=MPEG1 2=MPEG2 0=MPEG2.5
            layer = (b1 >> 1) & 3         # 1 = Layer III
            br_idx = (b2 >> 4) & 0xF
            sr_idx = (b2 >> 2) & 3
            if (layer == 1 and version in _MP3_BITRATES
                    and 0 < br_idx < 15 and sr_idx < 3):
                kbps = _MP3_BITRATES[version][br_idx]
                rate = _MP3_RATES[version][sr_idx]
                mono = ((b3 >> 6) & 3) == 3
                nch = 1 if mono else 2
                # Xing/Info header sits after the side info block (public
                # LAME/Xing layout): MPEG1 32B stereo / 17B mono, MPEG2
                # 17B / 9B, counted from after the 4-byte frame header
                side = (17 if mono else 32) if version == 3 \
                    else (9 if mono else 17)
                x = pos + 4 + side
                if raw[x:x + 4] in (b"Xing", b"Info") \
                        and len(raw) >= x + 12:
                    flags = int.from_bytes(raw[x + 4:x + 8], "big")
                    if flags & 1:  # frame count present
                        frames = int.from_bytes(raw[x + 8:x + 12], "big")
                        spf = 1152 if version == 3 else 576
                        dur = int(frames * spf * 1000 // rate)
                        return rate, nch, kbps, dur
                # no Xing: frame-by-frame walk (each frame's byte length
                # derives from its own header — 144000*kbps/rate MPEG1 /
                # 72000 MPEG2 + padding — so VBR durations come out EXACT
                # with header reads only). Trusted only when the walk
                # consumes the stream (an ID3v1 'TAG' tail is fine);
                # otherwise fall back to the CBR estimate.
                frames = 0
                p = pos
                spf = 1152 if version == 3 else 576
                while p + 4 <= len(raw):
                    h0, h1, h2 = raw[p], raw[p + 1], raw[p + 2]
                    if not (h0 == 0xFF and (h1 & 0xE0) == 0xE0):
                        break
                    v = (h1 >> 3) & 3
                    bi = (h2 >> 4) & 0xF
                    si = (h2 >> 2) & 3
                    if (((h1 >> 1) & 3) != 1 or v not in _MP3_BITRATES
                            or not 0 < bi < 15 or si >= 3):
                        break
                    flen = ((144000 if v == 3 else 72000)
                            * _MP3_BITRATES[v][bi] // _MP3_RATES[v][si]
                            + ((h2 >> 1) & 1))
                    if flen <= 4:
                        break
                    frames += 1
                    p += flen
                tail = len(raw) - p
                if frames and (tail < 4 or (raw[p:p + 3] == b"TAG"
                                            and tail == 128)):
                    dur = int(frames * spf * 1000 // rate)
                    return rate, nch, kbps, dur
                dur = int((len(raw) - pos) * 8 * 1000 / (kbps * 1000))
                return rate, nch, kbps, dur
        pos += 1
    return None


def sniff_flac(raw: bytes):
    """(sample_rate, n_channels, duration_ms) from a FLAC STREAMINFO
    block (public format: 'fLaC' + metadata blocks; STREAMINFO packs
    rate/channels/total-samples into 8 bytes), else None."""
    if raw[:4] != b"fLaC":
        return None
    i = 4
    while i + 4 <= len(raw):
        hdr = raw[i]
        length = int.from_bytes(raw[i + 1:i + 4], "big")
        if (hdr & 0x7F) == 0:  # STREAMINFO
            if length < 18 or i + 4 + 18 > len(raw):
                break
            packed = int.from_bytes(raw[i + 14:i + 22], "big")
            rate = packed >> 44
            nch = ((packed >> 41) & 0x7) + 1
            total = packed & ((1 << 36) - 1)
            if not rate:
                break
            return rate, nch, int(total * 1000 // rate) if total else None
        if hdr & 0x80:  # last-metadata-block flag
            break
        i += 4 + length
    raise ValueError("FLAC without a readable STREAMINFO block")


def sniff_ogg(raw: bytes):
    """(codec, sample_rate, n_channels, duration_ms) from an Ogg
    container: the id header of the first page names the codec (Vorbis /
    Opus per their public specs), the LAST page's granule position gives
    the duration (PCM samples for Vorbis; 48 kHz units minus pre-skip
    for Opus). Returns None for non-Ogg bytes."""
    if raw[:4] != b"OggS":
        return None
    nseg = raw[26] if len(raw) > 26 else 0
    body = 27 + nseg
    first = raw[body:body + 64]
    if first[:7] == b"\x01vorbis" and len(first) >= 16:
        codec = "vorbis"
        nch = first[11]
        rate = int.from_bytes(first[12:16], "little")
    elif first[:8] == b"OpusHead" and len(first) >= 19:
        codec = "opus"
        nch = first[9]
        preskip = int.from_bytes(first[10:12], "little")
        rate = 48000  # Opus always decodes at 48 kHz
    else:
        raise ValueError("Ogg with an unrecognized codec id header")
    # Walk pages FORWARD from the first header — each page's segment
    # table gives its exact length, so untrusted payload bytes that
    # happen to contain "OggS" can never be mistaken for a page header
    # (an rfind-based scan can be fooled into a garbage granule).
    dur = None
    granule = None
    pos = 0
    while pos + 27 <= len(raw):
        if raw[pos:pos + 4] != b"OggS" or raw[pos + 4] != 0:
            break  # corrupt/truncated: keep the last VALID page's granule
        nseg_p = raw[pos + 26]
        table_end = pos + 27 + nseg_p
        if table_end > len(raw):
            break
        g = int.from_bytes(raw[pos + 6:pos + 14], "little")
        if g and g < (1 << 62):
            granule = g
        pos = table_end + sum(raw[pos + 27:table_end])
    if granule is not None:
        if codec == "opus":
            granule = max(0, granule - preskip)
        dur = int(granule * 1000 // rate)
    return codec, rate, nch, dur


# --- Matroska / WebM (EBML) ---------------------------------------------

def _ebml_vint(raw: bytes, pos: int, keep_marker: bool):
    """(value, next_pos) for one EBML variable-length integer. Element
    IDs keep the length-marker bit (the convention Matroska specs use
    for ID constants); sizes strip it. None value = unknown size."""
    if pos >= len(raw):
        raise ValueError("EBML vint past end")
    first = raw[pos]
    if first == 0:
        raise ValueError("invalid EBML vint")
    length = 8 - first.bit_length() + 1
    if pos + length > len(raw):
        raise ValueError("truncated EBML vint")
    if keep_marker:
        v = int.from_bytes(raw[pos:pos + length], "big")
    else:
        v = first & (0xFF >> length)
        for i in range(1, length):
            v = (v << 8) | raw[pos + i]
        if v == (1 << (7 * length)) - 1:
            v = None  # unknown-size element
    return v, pos + length


def _ebml_children(raw: bytes, pos: int, end: int):
    """Yield (element_id, data_start, data_end) for EBML master-element
    children; unknown-size children extend to the parent end."""
    while pos < end:
        eid, pos = _ebml_vint(raw, pos, True)
        size, pos = _ebml_vint(raw, pos, False)
        data_end = end if size is None else min(pos + size, end)
        yield eid, pos, data_end
        pos = data_end


def _ebml_uint(raw: bytes, start: int, end: int) -> int:
    return int.from_bytes(raw[start:end], "big")


_EBML_MAGIC = b"\x1aE\xdf\xa3"


def _walk_webm(raw: bytes):
    """Parse the WebM structure shared by the sniffer and the frame
    sampler: returns (codec_id, width, height, duration_ms,
    blocks) where blocks is [(time_ms, is_keyframe, off, size)] for
    the first video track, or None when ``raw`` is not EBML/Matroska.
    Laced blocks are skipped (VP8 video is written unlaced); block
    times use TimestampScale (default 1 ms ticks per Matroska spec)."""
    if raw[:4] != _EBML_MAGIC:
        return None
    try:
        return _walk_webm_inner(raw)
    except ValueError:
        return None  # truncated/corrupt EBML: sniff-degrade, not raise


def _walk_webm_inner(raw: bytes):
    _, p = _ebml_vint(raw, 0, True)
    hdr_size, p = _ebml_vint(raw, p, False)
    p += hdr_size or 0
    eid, p2 = _ebml_vint(raw, p, True)
    if eid != 0x18538067:  # Segment
        return None
    seg_size, p2 = _ebml_vint(raw, p2, False)
    seg_end = len(raw) if seg_size is None else min(p2 + seg_size, len(raw))

    ts_scale_ns = 1_000_000
    duration_ticks = None
    codec = width = height = None
    track_num = None
    blocks = []
    for eid, s, e in _ebml_children(raw, p2, seg_end):
        if eid == 0x1549A966:  # Info
            for cid, cs, ce in _ebml_children(raw, s, e):
                if cid == 0x2AD7B1:  # TimestampScale
                    ts_scale_ns = _ebml_uint(raw, cs, ce)
                elif cid == 0x4489:  # Duration (float ticks)
                    import struct as _struct
                    n = ce - cs
                    duration_ticks = _struct.unpack(
                        ">f" if n == 4 else ">d", raw[cs:ce])[0]
        elif eid == 0x1654AE6B and track_num is None:  # Tracks
            for cid, cs, ce in _ebml_children(raw, s, e):
                if cid != 0xAE:  # TrackEntry
                    continue
                t_num = t_type = t_codec = t_w = t_h = None
                for fid, fs, fe in _ebml_children(raw, cs, ce):
                    if fid == 0xD7:
                        t_num = _ebml_uint(raw, fs, fe)
                    elif fid == 0x83:
                        t_type = _ebml_uint(raw, fs, fe)
                    elif fid == 0x86:
                        t_codec = raw[fs:fe].rstrip(b"\x00").decode(
                            "ascii", "replace")
                    elif fid == 0xE0:  # Video
                        for vid, vs, ve in _ebml_children(raw, fs, fe):
                            if vid == 0xB0:
                                t_w = _ebml_uint(raw, vs, ve)
                            elif vid == 0xBA:
                                t_h = _ebml_uint(raw, vs, ve)
                if t_type == 1 and t_num is not None:
                    track_num, codec = t_num, t_codec
                    width, height = t_w, t_h
                    break
        elif eid == 0x1F43B675 and track_num is not None:  # Cluster
            cluster_ts = 0
            for cid, cs, ce in _ebml_children(raw, s, e):
                if cid == 0xE7:  # Timestamp
                    cluster_ts = _ebml_uint(raw, cs, ce)
                elif cid in (0xA3, 0xA0):  # SimpleBlock | BlockGroup
                    bs, be = cs, ce
                    is_key = None
                    if cid == 0xA0:
                        bs = None
                        has_ref = False
                        for gid, gs, ge in _ebml_children(raw, cs, ce):
                            if gid == 0xA1:  # Block
                                bs, be = gs, ge
                            elif gid == 0xFB:  # ReferenceBlock
                                has_ref = True
                        if bs is None:
                            continue
                        is_key = not has_ref
                    tnum, bp = _ebml_vint(raw, bs, False)
                    if tnum != track_num or bp + 3 > be:
                        continue
                    rel = int.from_bytes(raw[bp:bp + 2], "big",
                                         signed=True)
                    flags = raw[bp + 2]
                    if flags & 0x06:  # laced: not used for VP8 video
                        continue
                    if is_key is None:
                        is_key = bool(flags & 0x80)
                    t_ms = (cluster_ts + rel) * ts_scale_ns // 1_000_000
                    blocks.append((t_ms, is_key, bp + 3, be - (bp + 3)))
    dur_ms = None
    if duration_ticks is not None:
        dur_ms = int(duration_ticks * ts_scale_ns / 1_000_000)
    elif blocks:
        dur_ms = blocks[-1][0]
    return codec, width, height, dur_ms, blocks


def sniff_webm(raw: bytes):
    """(width, height, duration_ms, codec_id) for a Matroska/WebM
    payload with a video track, else None."""
    parsed = _walk_webm(raw)
    if parsed is None or parsed[0] is None:
        return None
    codec, w, h, dur, _ = parsed
    return w, h, dur, codec


def sniff_mp4(raw: bytes):
    """(width, height, duration_ms) from an ISO-BMFF (mp4/mov) moov box:
    mvhd timescale+duration for the presentation length, the first tkhd
    with nonzero 16.16-fixed dimensions for the visual track. Public
    ISO/IEC 14496-12 layout; version-0 AND version-1 boxes."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        return None
    brand = raw[8:12]
    if brand == b"avif":
        return None  # image: sniff_avif's job

    dur_ms = width = height = None
    # boxes in file order, moov/trak entered depth-first; a stack of
    # (next box, end, depth) cursors, not a recursive closure, whose
    # self-reference would keep the payload alive until a collection
    stack = [(0, len(raw), 0)]
    while stack:
        i, end, depth = stack.pop()
        while i + 8 <= end and depth < 8:
            size = int.from_bytes(raw[i:i + 4], "big")
            btype = raw[i + 4:i + 8]
            body = i + 8
            if size == 1:  # 64-bit largesize
                if i + 16 > end:
                    break
                size = int.from_bytes(raw[i + 8:i + 16], "big")
                body = i + 16
            if size < 8:
                break
            stop = min(i + size, end)
            if btype in (b"moov", b"trak"):
                stack.append((i + size, end, depth))
                i, end, depth = body, stop, depth + 1
                continue
            if btype == b"mvhd" and stop - body >= 20:
                ver = raw[body]
                if ver == 1 and stop - body >= 28:
                    ts = int.from_bytes(raw[body + 20:body + 24], "big")
                    dur = int.from_bytes(raw[body + 24:body + 32], "big")
                else:
                    ts = int.from_bytes(raw[body + 12:body + 16], "big")
                    dur = int.from_bytes(raw[body + 16:body + 20], "big")
                if ts:
                    dur_ms = int(dur * 1000 // ts)
            elif btype == b"tkhd":
                ver = raw[body]
                off = body + (88 if ver == 1 else 76)
                if stop - off >= 8:
                    w = int.from_bytes(raw[off:off + 4], "big") >> 16
                    h = int.from_bytes(raw[off + 4:off + 8], "big") >> 16
                    if w and h and width is None:
                        width, height = w, h
            i += size
    if dur_ms is None and width is None:
        raise ValueError("ISO-BMFF without a readable moov header")
    return width, height, dur_ms


def _sniff_jpeg_dims(raw: bytes):
    """(width, height) from the first JPEG SOF marker, else None —
    header walk only, no entropy decode."""
    if raw[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(raw):
        if raw[i] != 0xFF:
            i += 1
            continue
        marker = raw[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seglen = int.from_bytes(raw[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > len(raw):
                break
            h = int.from_bytes(raw[i + 5:i + 7], "big")
            w = int.from_bytes(raw[i + 7:i + 9], "big")
            return w, h
        i += 2 + seglen
    raise ValueError("JPEG without a SOF header")


def _sniff_wav(raw: bytes):
    """(sample_rate, n_channels, duration_ms) from the RIFF/WAVE fmt +
    data chunk headers — no sample decode."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    i = 12
    rate = nch = block = None
    data_len = None
    while i + 8 <= len(raw):
        cid = raw[i:i + 4]
        ln = int.from_bytes(raw[i + 4:i + 8], "little")
        if cid == b"fmt " and ln >= 16:
            nch = int.from_bytes(raw[i + 10:i + 12], "little")
            rate = int.from_bytes(raw[i + 12:i + 16], "little")
            block = int.from_bytes(raw[i + 20:i + 22], "little")
        elif cid == b"data":
            data_len = ln
        i += 8 + ln + (ln & 1)
    if not rate or not nch or data_len is None or not block:
        raise ValueError("WAVE without readable fmt/data chunks")
    return rate, nch, int(data_len // block * 1000 // rate)


def _has_vp8l_chunk(raw: bytes) -> bool:
    """Exact RIFF chunk walk for a VP8L image chunk — unlike a byte
    search this can't false-positive on compressed VP8 data, and it
    finds lossless chunks behind ICCP/EXIF/XMP in a VP8X wrapper."""
    i = 12
    while i + 8 <= len(raw):
        fourcc = raw[i:i + 4]
        if fourcc == b"VP8L":
            return True
        if fourcc in (b"VP8 ", b"ANMF"):
            return False  # lossy / animated: sniff path
        size = int.from_bytes(raw[i + 4:i + 8], "little")
        i += 8 + size + (size & 1)
    return False


def _has_vp8_chunk(raw: bytes) -> bool:
    """RIFF walk for a still lossy ``VP8 `` chunk (behind an optional
    VP8X/ALPH/metadata wrapper); animated payloads stay on the sniff
    path."""
    i = 12
    while i + 8 <= len(raw):
        fourcc = raw[i:i + 4]
        if fourcc == b"VP8 ":
            return True
        if fourcc in (b"VP8L", b"ANMF", b"ANIM"):
            return False
        size = int.from_bytes(raw[i + 4:i + 8], "little")
        i += 8 + size + (size & 1)
    return False


def sniff_media(payload: bytes) -> dict | None:
    """Typed-metadata dict for any sniffable container, else None:
    ``{format, width, height, sample_rate, n_channels, bitrate_kbps,
    duration_ms}`` with inapplicable fields None. Header reads ONLY —
    no entropy/pixel/sample decode anywhere, so this is the cheap
    pass a 100 TB media census runs (``media_metadata``)."""
    raw = payload or b""
    base = {"format": None, "width": None, "height": None,
            "sample_rate": None, "n_channels": None,
            "bitrate_kbps": None, "duration_ms": None}
    if raw[:8] == _PNG_SIG and len(raw) >= 24:
        fmt, dur = "png", None
        if b"acTL" in raw[:200]:  # animated PNG: sum fcTL delays
            fmt, dur = "png-anim", 0
            i = 8
            while i + 8 <= len(raw):
                ln = int.from_bytes(raw[i:i + 4], "big")
                if raw[i + 4:i + 8] == b"fcTL" and ln >= 26:
                    num = int.from_bytes(raw[i + 28:i + 30], "big")
                    den = int.from_bytes(raw[i + 30:i + 32], "big")
                    dur += max(round(num * 1000 / (den or 100)), 1)
                i += 12 + ln
            dur = dur or None
        return {**base, "format": fmt,
                "width": int.from_bytes(raw[16:20], "big"),
                "height": int.from_bytes(raw[20:24], "big"),
                "duration_ms": dur}
    j = _sniff_jpeg_dims(raw)
    if j:
        return {**base, "format": "jpeg", "width": j[0], "height": j[1]}
    if raw[:2] == b"BM" and len(raw) >= 26:
        return {**base, "format": "bmp",
                "width": abs(int.from_bytes(raw[18:22], "little",
                                            signed=True)),
                "height": abs(int.from_bytes(raw[22:26], "little",
                                             signed=True))}
    if raw[:2] in (b"P6", b"P3"):
        fields = raw[2:200].split()
        if len(fields) >= 2:
            return {**base, "format": "ppm", "width": int(fields[0]),
                    "height": int(fields[1])}
    wav = _sniff_wav(raw)
    if wav:
        return {**base, "format": "wav", "sample_rate": wav[0],
                "n_channels": wav[1], "duration_ms": wav[2]}
    wp = sniff_webp(raw)
    if wp:
        anim = _webp_anim_walk(raw)
        if anim is not None:
            dur = sum(f[2] for f in anim[3])
            return {**base, "format": "webp-anim",
                    "width": wp[0], "height": wp[1],
                    "duration_ms": dur or None}
        return {**base, "format": f"webp-{wp[2]}",
                "width": wp[0], "height": wp[1]}
    g = sniff_gif(raw)
    if g:
        return {**base, "format": "gif", "width": g[0],
                "height": g[1], "duration_ms": g[2]}
    av = sniff_avif(raw)
    if av:
        return {**base, "format": "avif", "width": av[0], "height": av[1]}
    m = sniff_mp3(raw)
    if m:
        return {**base, "format": "mp3", "sample_rate": m[0],
                "n_channels": m[1], "bitrate_kbps": m[2],
                "duration_ms": m[3]}
    fl = sniff_flac(raw)
    if fl:
        return {**base, "format": "flac", "sample_rate": fl[0],
                "n_channels": fl[1], "duration_ms": fl[2]}
    og = sniff_ogg(raw)
    if og:
        return {**base, "format": f"ogg-{og[0]}", "sample_rate": og[1],
                "n_channels": og[2], "duration_ms": og[3]}
    mp4 = sniff_mp4(raw)
    if mp4:
        return {**base, "format": "mp4", "width": mp4[0],
                "height": mp4[1], "duration_ms": mp4[2]}
    ico = sniff_ico(raw)
    if ico:
        return {**base, "format": "ico", "width": ico[0],
                "height": ico[1]}
    tif = sniff_tiff(raw)
    if tif:
        return {**base, "format": "tiff", "width": tif[0],
                "height": tif[1]}
    svg = sniff_svg(raw)
    if svg is not None:
        return {**base, "format": "svg", "width": svg[0],
                "height": svg[1]}
    if raw[:4] == _EBML_MAGIC:
        wm = sniff_webm(raw)
        if wm:
            codec = (wm[3] or "").lower().replace("v_", "", 1)
            return {**base, "format": f"webm-{codec or 'unknown'}",
                    "width": wm[0], "height": wm[1],
                    "duration_ms": wm[2]}
    return None


def decode_image(payload: bytes, *, grid=4,
                 deterministic_fake: bool = False):
    """Decode encoded image bytes to (width, height, 16-byte pixel summary).

    REAL pure-Python decoders cover JPEG — baseline AND progressive
    (jpeg.py: huffman + IDCT, subsampling, restarts, spectral selection +
    successive approximation) — PNG (8-bit gray/gray+alpha/RGB/RGBA,
    non-interlaced), lossless WebP (vp8l.py: full VP8L bitstream —
    prefix codes, LZ77 + color cache, meta groups, all four transforms),
    lossy WebP (vp8.py: the RFC 6386 VP8 keyframe path — bool decoder,
    token trees, all intra predictors, both loop filters — validated
    bit-exact against libwebp), GIF (full LZW incl. interlacing/local
    tables, first frame), BMP (uncompressed 24/32-bit), PPM (P6/P3)
    and ICO favicons (largest entry; PNG members + classic DIBs with
    palettes and AND-mask transparency) — no imaging library needed. Remaining formats (animated WebP,
    AVIF pixels) raise unless ``deterministic_fake=True``, which substitutes a seeded,
    content-derived stand-in so the distributed plumbing stays testable.
    """
    raw = payload or b""
    try:
        if raw[:8] == _PNG_SIG:
            return decode_png(raw, grid)
        if raw[:2] == b"\xff\xd8":
            from .jpeg import decode_jpeg_luma
            w, h, plane = decode_jpeg_luma(raw)
            # JPEG's Y channel IS the BT.601 luma the other decoders derive
            return w, h, _gray_grid(w, h, lambda x, y: int(plane[y, x]), grid)
        if raw[:2] == b"BM":
            return decode_bmp(raw, grid)
        if raw[:2] in (b"P6", b"P3"):
            return decode_ppm(raw, grid)
        if raw[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(raw, grid)
        if _ico_entries(raw):
            return decode_ico(raw, grid)
        if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
            if _has_vp8l_chunk(raw):
                # lossless WebP: REAL pixel decode (vp8l.py)
                from .vp8l import decode_vp8l
                w, h, argb = decode_vp8l(raw)

                def luma(x, y):
                    p = argb[y * w + x]
                    return ((p >> 16 & 0xFF) * 299 + (p >> 8 & 0xFF) * 587
                            + (p & 0xFF) * 114) // 1000

                return w, h, _gray_grid(w, h, luma, grid)
            if _has_vp8_chunk(raw):
                # lossy WebP: REAL pixel decode (vp8.py, RFC 6386
                # keyframe path); the VP8 Y plane IS the luma, exactly
                # like the JPEG path above. A truncated/undecodable
                # bitstream degrades to the header-sniff digest lane
                # below — census rows keep their real dimensions even
                # when the payload bytes are cut short. Animated
                # flavors go straight to the sniff.
                from .vp8 import decode_vp8
                try:
                    w, h, yplane, _, _ = decode_vp8(raw)
                except ValueError:
                    pass
                else:
                    return w, h, _gray_grid(
                        w, h, lambda x, y: yplane[y * w + x], grid)
        # header-sniffable codec formats: REAL dimensions from the
        # container header, digest stand-in for the pixel summary (the
        # bitstream still needs a codec library)
        sniffed = sniff_webp(raw) or sniff_gif(raw) or sniff_avif(raw)
        if sniffed:
            return sniffed[0], sniffed[1], hashlib.sha256(raw).digest()
        unrecognized = True
    except Exception as e:  # noqa: BLE001 - corrupt payloads must degrade
        if not deterministic_fake:
            raise ValueError(f"corrupt image payload: {e}") from e
        unrecognized = False
    if unrecognized and not deterministic_fake:
        raise NotImplementedError(
            "only JPEG/PNG/WebP(VP8+VP8L)/GIF/BMP/PPM/ICO have "
            "in-container PIXEL decoders (animated-WebP/AVIF/TIFF/SVG "
            "headers sniff real "
            "dimensions with a digest pixel summary); other formats need "
            "an imaging library — pass deterministic_fake=True for the "
            "content-derived stand-in")
    # stand-in: unrecognized format, or corrupt payload with fake enabled —
    # a kernel row must never kill the Spark task
    digest = hashlib.sha256(raw).digest()
    width = 16 + digest[0] % 64
    height = 16 + digest[1] % 64
    return width, height, digest


def _feature_from_summary(summary: bytes, dim: int = 16) -> list[float]:
    """Map a 16-byte pixel summary (real gray grid, or the fake digest) to a
    dim-16 embedding in [-1, 1)."""
    return [(summary[i % len(summary)] - 128) / 128.0 for i in range(dim)]


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("n_bytes", IntegerType()),
    StructField("rms", ArrayType(FloatType())),  # 16-window loudness profile
])


def _g711_ulaw(idx):
    """µ-law byte -> linear (±32124 scale), G.711 (public spec)."""
    u = ~idx & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    x = (((mant << 3) + 0x84) << exp) - 0x84
    return -x if sign else x


def _g711_alaw(idx):
    """A-law byte -> linear (±32256 scale), G.711 (public spec).

    Sign convention per the reference alaw2linear: after the 0x55 XOR, a
    SET 0x80 bit means POSITIVE (the opposite of µ-law)."""
    a = idx ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    x = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return x if sign else -x


_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)


def _ima_decode_block(block: bytes, nch: int):
    """One IMA-ADPCM WAV block -> per-channel int16 lists (public
    IMA/DVI spec: 4-byte channel headers, then nibble data interleaved
    in 4-byte channel groups, low nibble first)."""
    chans = [[] for _ in range(nch)]
    preds = []
    idxs = []
    for c in range(nch):
        h = block[4 * c:4 * c + 4]
        pred = int.from_bytes(h[0:2], "little", signed=True)
        idx = min(max(h[2], 0), 88)
        preds.append(pred)
        idxs.append(idx)
        chans[c].append(pred)
    pos = 4 * nch
    while pos < len(block):
        for c in range(nch):
            chunk = block[pos + 4 * c:pos + 4 * c + 4]
            for byte in chunk:
                for nib in (byte & 0xF, byte >> 4):
                    step = _IMA_STEPS[idxs[c]]
                    diff = step >> 3
                    if nib & 1:
                        diff += step >> 2
                    if nib & 2:
                        diff += step >> 1
                    if nib & 4:
                        diff += step
                    pred = preds[c] + (-diff if nib & 8 else diff)
                    pred = -32768 if pred < -32768 else (
                        32767 if pred > 32767 else pred)
                    preds[c] = pred
                    idxs[c] = min(max(idxs[c] + _IMA_INDEX[nib], 0), 88)
                    chans[c].append(pred)
        pos += 4 * nch
    return chans


_MS_COEFS = ((256, 0), (512, -256), (0, 64), (192, 64), (240, 0),
             (460, -208), (392, -232))
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512,
             409, 307, 230, 230, 230)


def _ms_adpcm_decode_block(block: bytes, nch: int):
    """One MS-ADPCM WAV block -> per-channel int16 lists (public
    Microsoft spec: per-channel coef index + delta + two seed
    samples, then channel-interleaved nibbles, HIGH nibble first)."""
    coefs = []
    for c in range(nch):
        ci = min(block[c], len(_MS_COEFS) - 1)
        coefs.append(_MS_COEFS[ci])
    deltas = [int.from_bytes(block[nch + 2 * c:nch + 2 * c + 2],
                             "little", signed=True) for c in range(nch)]
    s1 = [int.from_bytes(block[3 * nch + 2 * c:3 * nch + 2 * c + 2],
                         "little", signed=True) for c in range(nch)]
    s2 = [int.from_bytes(block[5 * nch + 2 * c:5 * nch + 2 * c + 2],
                         "little", signed=True) for c in range(nch)]
    chans = [[s2[c], s1[c]] for c in range(nch)]
    pos = 7 * nch
    c = 0
    for byte in block[pos:]:
        for nib in (byte >> 4, byte & 0xF):
            sn = nib - 16 if nib >= 8 else nib
            c1, c2 = coefs[c]
            pred = (s1[c] * c1 + s2[c] * c2) // 256 + sn * deltas[c]
            pred = -32768 if pred < -32768 else (
                32767 if pred > 32767 else pred)
            s2[c], s1[c] = s1[c], pred
            deltas[c] = max((_MS_ADAPT[nib] * deltas[c]) // 256, 16)
            chans[c].append(pred)
            c = (c + 1) % nch
    return chans


def _parse_riff_adpcm(fmt: bytes, data: bytes, fact: int | None = None):
    """(rate, nch, nframes, float64 samples) for WAV fmt tags 17
    (IMA ADPCM) and 2 (MS ADPCM), block-by-block. The fmt extra's
    wSamplesPerBlock caps each block (final-block padding nibbles
    would otherwise decode as phantom samples) and the fact chunk
    caps the stream total, both per the public WAV ADPCM specs."""
    import numpy as np
    tag = int.from_bytes(fmt[0:2], "little")
    if tag not in (2, 17):
        return None
    nch = int.from_bytes(fmt[2:4], "little") or 1
    rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    if not block_align:
        return None
    spb = int.from_bytes(fmt[18:20], "little") if len(fmt) >= 20 else 0
    out = [[] for _ in range(nch)]
    for off in range(0, len(data) - (7 * nch if tag == 2 else 4 * nch)
                     + 1, block_align):
        block = data[off:off + block_align]
        chans = (_ima_decode_block(block, nch) if tag == 17
                 else _ms_adpcm_decode_block(block, nch))
        for c in range(nch):
            out[c].extend(chans[c][:spb] if spb else chans[c])
    # interleave channels: decode_wav strides [::nch] for channel 0,
    # same contract as the G.711 return
    n = len(out[0])
    if fact:
        n = min(n, fact)
    inter = np.empty(n * nch, dtype=np.float64)
    for c in range(nch):
        inter[c::nch] = np.array(out[c][:n], dtype=np.float64)
    return rate, nch, n, inter / 32768.0


def _parse_riff_g711(payload: bytes):
    """Manual RIFF walk for the encodings stdlib ``wave`` refuses:
    fmt tags 6 (A-law) / 7 (µ-law) table decode, and 2 (MS ADPCM) /
    17 (IMA ADPCM) block decode. Returns
    (rate, nch, nframes, float64 samples in [-1, 1]) or None."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i = 12
    fmt = None
    data = None
    fact = None
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        ln = int.from_bytes(payload[i + 4:i + 8], "little")
        body = payload[i + 8:i + 8 + ln]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and ln >= 4:
            fact = int.from_bytes(body[0:4], "little")
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    tag = int.from_bytes(fmt[0:2], "little")
    if tag in (2, 17):
        return _parse_riff_adpcm(fmt, data, fact)
    if tag not in (6, 7):
        return None
    nch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    table = np.array([(_g711_alaw if tag == 6 else _g711_ulaw)(b)
                      for b in range(256)], dtype=np.float64) / 32768.0
    samples = table[np.frombuffer(data, dtype=np.uint8)]
    return rate, nch, len(samples) // max(nch, 1), samples


def decode_wav(payload: bytes, n_windows: int = 16):
    """Pure-stdlib decode of RIFF/WAVE — PCM (8/16-bit) plus G.711
    A-law/µ-law (table decode) plus IMA/MS ADPCM (block decode; stdlib
    ``wave`` refuses all four) →
    (sample_rate, n_channels, duration_ms, 16-window RMS profile in [0,1])."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            nch = w.getnchannels()
            width = w.getsampwidth()
            rate = w.getframerate()
            nframes = w.getnframes()
            frames = w.readframes(nframes)
    except wave.Error:
        g711 = _parse_riff_g711(payload)
        if g711 is None:
            raise ValueError("unsupported WAV encoding") from None
        rate, nch, nframes, samples = g711
        width = None
    if width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        samples = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128) / 128.0
    elif width is not None:
        raise ValueError(f"unsupported WAV sample width {width}")
    if nch > 1:
        samples = samples[::nch]  # first channel
    duration_ms = int(nframes * 1000 / rate) if rate else 0
    return rate, nch, duration_ms, _rms_profile(samples, n_windows)


def _rms_profile(samples, n_windows: int = 16) -> list[float]:
    import numpy as np
    n = len(samples)
    out = []
    for g in range(n_windows):
        lo, hi = g * n // n_windows, max((g + 1) * n // n_windows,
                                         g * n // n_windows + 1)
        seg = samples[lo:min(hi, n)]
        out.append(float(np.sqrt(np.mean(seg * seg))) if len(seg) else 0.0)
    return out


def decode_flac_audio(raw: bytes, n_windows: int = 16):
    """REAL FLAC sample decode (flac.py: Rice residuals, fixed/LPC
    predictors, stereo decorrelation) -> the decode_wav output shape
    (rate, nch, duration_ms, 16-window RMS profile in [0, 1])."""
    import numpy as np

    from .flac import decode_flac
    rate, nch, bps, channels = decode_flac(raw)
    first = np.asarray(channels[0], dtype=np.float64) / float(1 << (bps - 1))
    duration_ms = int(len(first) * 1000 / rate) if rate else 0
    return rate, nch, duration_ms, _rms_profile(first, n_windows)


def decode_audio(payload: bytes, *, n_windows: int = 16,
                 deterministic_fake: bool = False):
    """WAV PCM, FLAC and MPEG Layer III decode for real (stdlib
    ``wave`` + numpy; flac.py for FLAC samples; mp3.py for Layer III
    with its validated Huffman-table subset); other compressed
    formats (ogg/opus/...) need a codec not in this container — they
    raise unless the documented deterministic stand-in is
    requested."""
    raw = payload or b""
    try:
        if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
            return decode_wav(raw, n_windows)
        if raw[:4] == b"fLaC":
            try:
                return decode_flac_audio(raw, n_windows)
            except ValueError:
                # unreadable frames: fall back to the STREAMINFO
                # metadata + digest stand-in path below
                pass
        if raw[:3] == b"ID3" or (len(raw) > 4 and raw[0] == 0xFF
                                 and (raw[1] & 0xE0) == 0xE0):
            # REAL MPEG-1/2 Layer III sample decode (mp3.py) — frames
            # outside the validated Huffman-table set raise and fall
            # back to the header-sniff stand-in below
            try:
                from .mp3 import Mp3Error, decode_mp3
                rate, nch, pcm = decode_mp3(raw, min_coverage=0.5)
                # trim the canonical Layer III codec delay (~528
                # encoder + 529 decoder samples) so envelopes align
                # with the source audio
                first = pcm[1056:, 0]
                duration_ms = int(len(first) * 1000 / rate) if rate \
                    else 0
                return rate, nch, duration_ms, \
                    _rms_profile(first, n_windows)
            except Mp3Error:
                pass
        # codec formats: REAL rate/channels/duration from the headers
        # (mp3 frame/Xing, FLAC STREAMINFO, Ogg id + last-page granule),
        # digest stand-in for the loudness profile (samples need a codec)
        meta = None
        m = sniff_mp3(raw)
        if m:
            meta = (m[0], m[1], m[3])
        else:
            fl = sniff_flac(raw)
            if fl:
                meta = fl
            else:
                og = sniff_ogg(raw)
                if og:
                    meta = (og[1], og[2], og[3])
        if meta:
            digest = hashlib.sha256(raw).digest()
            return meta[0], meta[1], meta[2], [digest[i % 32] / 255.0
                                               for i in range(16)]
        unrecognized = True
    except Exception as e:  # noqa: BLE001 - corrupt payloads must degrade
        if not deterministic_fake:
            raise ValueError(f"corrupt audio payload: {e}") from e
        unrecognized = False
    if unrecognized and not deterministic_fake:
        raise NotImplementedError(
            "only WAV PCM, FLAC and Layer III mp3 (validated-table "
            "frames) have in-container SAMPLE decoders (other mp3 "
            "frames and Ogg sniff real rate/channels/duration with a "
            "digest loudness stand-in); other audio formats need a "
            "codec — pass deterministic_fake=True for the stand-in")
    digest = hashlib.sha256(raw).digest()
    rate = 8000 * (1 + digest[0] % 6)
    return rate, 1 + digest[1] % 2, 1000 + digest[2] * 16, \
        [(digest[i % 32] / 255.0) for i in range(16)]


def make_audio_feature_kernel(deterministic_fake: bool = True):
    """mapInPandas kernel: MEDIA_SCHEMA batches -> AUDIO_FEATURES_SCHEMA."""

    def audio_feature_rows(payload):
        raw = bytes(payload or b"")
        rate, nch, dur, rms = decode_audio(
            raw, deterministic_fake=deterministic_fake)
        return [(rate, nch, dur, len(raw), rms)]

    return row_kernel(AUDIO_FEATURES_SCHEMA, audio_feature_rows, ("payload",),
                      ("media_id",))


def audio_features(media: DataFrame) -> DataFrame:
    """Distributed audio decode/feature-extract over audio rows."""
    auds = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return auds.mapInPandas(make_audio_feature_kernel(), AUDIO_FEATURES_SCHEMA)


def make_image_feature_kernel(target: tuple[int, int] = (32, 32),
                              deterministic_fake: bool = True):
    """mapInPandas kernel: MEDIA_SCHEMA batches -> IMAGE_FEATURES_SCHEMA.

    ``target`` models the resize step; the fake keeps output dims = min of
    source and target (as a real thumbnailer would for downscale-only)."""

    def image_feature_rows(payload):
        raw = bytes(payload or b"")
        w, h, summary = decode_image(raw,
                                     deterministic_fake=deterministic_fake)
        return [(min(w, target[0]), min(h, target[1]), len(raw),
                 _feature_from_summary(summary))]

    return row_kernel(IMAGE_FEATURES_SCHEMA, image_feature_rows, ("payload",),
                      ("media_id",))


def image_features(media: DataFrame, target: tuple[int, int] = (32, 32)) -> DataFrame:
    """Distributed decode/resize/feature-extract over image rows."""
    imgs = media.filter(F.col("kind") == "image") \
        .select("media_id", "payload")
    return imgs.mapInPandas(make_image_feature_kernel(target), IMAGE_FEATURES_SCHEMA)


def _mp4_boxes(raw: bytes, start: int, end: int):
    """Yield (fourcc, body_start, box_end) for the direct children of
    [start, end) — ISO/IEC 14496-12 box layout incl. 64-bit largesize."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(raw[i:i + 4], "big")
        btype = raw[i + 4:i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                return
            size = int.from_bytes(raw[i + 8:i + 16], "big")
            body = i + 16
        if size < 8:
            return
        yield btype, body, min(i + size, end)
        i += size


def _mp4_child(raw: bytes, span, *path):
    """First descendant box at the given fourcc path, as (body, end)."""
    cur = span
    for name in path:
        found = None
        for bt, b, e in _mp4_boxes(raw, cur[0], cur[1]):
            if bt == name:
                found = (b, e)
                break
        if found is None:
            return None
        cur = found
    return cur


def _mp4_mjpeg_samples(raw: bytes):
    """Sample table of the first VIDEO track whose sample description
    is Motion-JPEG ('jpeg' / 'mjpa'): (timescale, [(dts_units, offset,
    size), ...]) with offsets into ``raw``'s mdat. None when the
    payload isn't ISO-BMFF or carries no MJPEG video track. Pure
    header/table walk (stsd/stts/stsc/stsz/stco|co64 per ISO/IEC
    14496-12 §8.5-8.7); the frame bitstreams themselves are plain
    JPEGs that jpeg.py decodes."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        return None
    moov = _mp4_child(raw, (0, len(raw)), b"moov")
    if moov is None:
        return None
    for bt, b, e in _mp4_boxes(raw, moov[0], moov[1]):
        if bt != b"trak":
            continue
        mdia = _mp4_child(raw, (b, e), b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_child(raw, mdia, b"hdlr")
        if hdlr is None or raw[hdlr[0] + 8:hdlr[0] + 12] != b"vide":
            continue
        mdhd = _mp4_child(raw, mdia, b"mdhd")
        if mdhd is None:
            continue
        ver = raw[mdhd[0]]
        timescale = int.from_bytes(
            raw[mdhd[0] + (20 if ver == 1 else 12):]
            [:4], "big")
        stbl = _mp4_child(raw, mdia, b"minf", b"stbl")
        if stbl is None or not timescale:
            continue
        stsd = _mp4_child(raw, stbl, b"stsd")
        if stsd is None:
            continue
        fourcc = raw[stsd[0] + 12:stsd[0] + 16]
        if fourcc not in (b"jpeg", b"mjpa"):
            continue
        stts = _mp4_child(raw, stbl, b"stts")
        stsz = _mp4_child(raw, stbl, b"stsz")
        stsc = _mp4_child(raw, stbl, b"stsc")
        stco = _mp4_child(raw, stbl, b"stco")
        long_off = False
        if stco is None:
            stco = _mp4_child(raw, stbl, b"co64")
            long_off = True
        if None in (stts, stsz, stsc, stco):
            continue
        # sizes
        fixed = int.from_bytes(raw[stsz[0] + 4:stsz[0] + 8], "big")
        n_samples = int.from_bytes(raw[stsz[0] + 8:stsz[0] + 12], "big")
        sizes = ([fixed] * n_samples if fixed else
                 [int.from_bytes(raw[stsz[0] + 12 + 4 * k:]
                                 [:4], "big") for k in range(n_samples)])
        # decode timestamps
        n_stts = int.from_bytes(raw[stts[0] + 4:stts[0] + 8], "big")
        dts, t = [], 0
        for k in range(n_stts):
            cnt = int.from_bytes(raw[stts[0] + 8 + 8 * k:][:4], "big")
            delta = int.from_bytes(raw[stts[0] + 12 + 8 * k:][:4], "big")
            for _ in range(cnt):
                if len(dts) >= n_samples:
                    break
                dts.append(t)
                t += delta
        # chunk offsets
        n_chunks = int.from_bytes(raw[stco[0] + 4:stco[0] + 8], "big")
        osz = 8 if long_off else 4
        chunk_off = [int.from_bytes(raw[stco[0] + 8 + osz * k:][:osz],
                                    "big") for k in range(n_chunks)]
        # sample-to-chunk runs -> per-chunk sample counts
        n_stsc = int.from_bytes(raw[stsc[0] + 4:stsc[0] + 8], "big")
        runs = [(int.from_bytes(raw[stsc[0] + 8 + 12 * k:][:4], "big"),
                 int.from_bytes(raw[stsc[0] + 12 + 12 * k:][:4], "big"))
                for k in range(n_stsc)]
        samples, si = [], 0
        for ci in range(n_chunks):
            spc = 0
            for first, cnt in runs:
                if first <= ci + 1:
                    spc = cnt
            off = chunk_off[ci]
            for _ in range(spc):
                if si >= n_samples or si >= len(dts):
                    break
                samples.append((dts[si], off, sizes[si]))
                off += sizes[si]
                si += 1
        if samples:
            return timescale, samples
    return None


def decode_video_frames(raw: bytes, every_ms: int = 1000,
                        duration_ms: int | None = None):
    """REAL sampled-frame decode for Motion-JPEG mp4 payloads: walk the
    ISO-BMFF sample tables (:func:`_mp4_mjpeg_samples`), pick the
    frame presented at each ``every_ms`` timestamp (last sample with
    dts <= t), decode its JPEG bitstream with jpeg.py, and summarize
    as the shared 4x4 luma grid; WebM VP8 payloads get the same
    treatment at keyframe granularity via :func:`_webm_vp8_frames`,
    animated WebP composites its ANMF timeline via
    :func:`_webp_anim_frames`, and multi-frame GIFs composite theirs
    via :func:`_gif_anim_frames`. Returns
    ``[(frame_ms, width, height, luma16-bytes)]`` or None when the
    payload is none of those (other codecs still need a library).
    """
    tab = _mp4_mjpeg_samples(raw)
    if tab is None:
        for fallback in (_webm_vp8_frames, _webp_anim_frames,
                         _gif_anim_frames, _apng_frames):
            got = fallback(raw, every_ms, duration_ms)
            if got is not None:
                return got
        return None
    timescale, samples = tab
    from .jpeg import decode_jpeg_luma
    if duration_ms is None:
        last_dts = samples[-1][0]
        step = samples[1][0] - samples[0][0] if len(samples) > 1 else \
            timescale
        duration_ms = int((last_dts + step) * 1000 // timescale)
    out = []
    cache: dict[int, tuple] = {}
    for t in range(0, max(duration_ms - 1, 0) + 1, every_ms):
        units = t * timescale // 1000
        pick = None
        for k, (d, off, sz) in enumerate(samples):
            if d <= units:
                pick = k
            else:
                break
        if pick is None:
            continue
        if pick not in cache:
            _, off, sz = samples[pick]
            w, h, plane = decode_jpeg_luma(raw[off:off + sz])
            cache[pick] = (w, h, _gray_grid(
                w, h, lambda x, y: int(plane[y, x]), 4))
        w, h, grid = cache[pick]
        out.append((t, w, h, grid))
    return out


def _apng_frames(raw: bytes, every_ms: int,
                 duration_ms: int | None):
    """Sampled decode for APNG (animated PNG, the public Mozilla/W3C
    spec folded into PNG third edition): walk acTL/fcTL/fdAT, rebuild
    each frame as a standalone PNG decoded by the existing full PNG
    path, and composite with the spec ops — dispose_op
    none/background/previous, blend_op source/over (exact integer
    arithmetic on luma+alpha). None when ``raw`` isn't an APNG."""
    if raw[:8] != _PNG_SIG or b"acTL" not in raw[:200]:
        return None
    ihdr = plte = trns = None
    frames = []  # (fctl_dict, [data chunks])
    default_is_frame = False
    cur = None
    i = 8
    while i + 8 <= len(raw):
        length = int.from_bytes(raw[i:i + 4], "big")
        ctype = raw[i + 4:i + 8]
        data = raw[i + 8:i + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"fcTL":
            num, den = (int.from_bytes(data[20:22], "big"),
                        int.from_bytes(data[22:24], "big"))
            cur = {
                "w": int.from_bytes(data[4:8], "big"),
                "h": int.from_bytes(data[8:12], "big"),
                "x": int.from_bytes(data[12:16], "big"),
                "y": int.from_bytes(data[16:20], "big"),
                "delay_ms": max(round(num * 1000 / (den or 100)), 1),
                "dispose": data[24], "blend": data[25],
            }
            frames.append((cur, []))
        elif ctype == b"IDAT":
            # the default image is frame 0 only when an fcTL precedes
            # the first IDAT; otherwise it is not part of the timeline
            if cur is not None:
                frames[-1][1].append(data)
        elif ctype == b"fdAT":
            if cur is not None:
                frames[-1][1].append(data[4:])  # strip sequence number
        elif ctype == b"IEND":
            break
        i += 12 + length
    if ihdr is None or len(frames) < 2:
        return None
    cw = int.from_bytes(ihdr[0:4], "big")
    ch = int.from_bytes(ihdr[4:8], "big")
    _anim_caps(cw * ch, len(frames))

    import struct as _struct
    import zlib as _zlib

    def _chunk(typ, data):
        c = typ + data
        return _struct.pack(">I", len(data)) + c + _struct.pack(
            ">I", _zlib.crc32(c))

    def decode_frame(fc, datas):
        sub_ihdr = (_struct.pack(">II", fc["w"], fc["h"]) + ihdr[8:13])
        png = _PNG_SIG + _chunk(b"IHDR", sub_ihdr)
        if plte:
            png += _chunk(b"PLTE", plte)
        if trns:
            png += _chunk(b"tRNS", trns)
        for d in datas:
            png += _chunk(b"IDAT", d)
        png += _chunk(b"IEND", b"")
        return decode_png(png, grid=None)

    starts = []
    t0 = 0
    for fc, _ in frames:
        starts.append(t0)
        t0 += fc["delay_ms"]
    if duration_ms is None:
        duration_ms = t0
    canvas_l = [0] * (cw * ch)
    canvas_a = [0] * (cw * ch)
    pending = None
    composited = -1
    out = []
    grid_cache = {}
    for t in range(0, max(duration_ms - 1, 0) + 1, every_ms):
        k = 0
        for j, st in enumerate(starts):
            if st <= t:
                k = j
        while composited < k:
            composited += 1
            if pending is not None:
                if pending[0] == "bg":
                    _, (dx, dy, dw, dh) = pending
                    for r in range(dh):
                        if dy + r >= ch:
                            break
                        row = (dy + r) * cw
                        for c in range(dw):
                            if dx + c >= cw:
                                break
                            canvas_a[row + dx + c] = 0
                else:
                    _, canvas_l, canvas_a = pending
                pending = None
            fc, datas = frames[composited]
            if fc["dispose"] == 2:
                pending = ("prev", canvas_l[:], canvas_a[:])
            elif fc["dispose"] == 1:
                pending = ("bg", (fc["x"], fc["y"], fc["w"], fc["h"]))
            fw, fh, luma, alpha = decode_frame(fc, datas)
            fx, fy = fc["x"], fc["y"]
            over = fc["blend"] == 1
            for r in range(fh):
                cy = fy + r
                if cy >= ch:
                    break
                row = cy * cw
                frow = r * fw
                for c in range(fw):
                    cx = fx + c
                    if cx >= cw:
                        break
                    ls = luma[frow + c]
                    asrc = 255 if alpha is None else alpha[frow + c]
                    if not over or asrc == 255:
                        canvas_l[row + cx] = ls
                        canvas_a[row + cx] = asrc
                    elif asrc:
                        ad = canvas_a[row + cx]
                        aout = asrc * 255 + ad * (255 - asrc)
                        num = (ls * asrc * 255
                               + canvas_l[row + cx] * ad * (255 - asrc))
                        canvas_l[row + cx] = num // aout
                        canvas_a[row + cx] = (aout + 127) // 255
        if composited in grid_cache:
            out.append((t, cw, ch, grid_cache[composited]))
            continue
        flat = [canvas_l[i2] if canvas_a[i2] == 255 else
                (canvas_l[i2] * canvas_a[i2]
                 + 255 * (255 - canvas_a[i2])) // 255
                for i2 in range(cw * ch)]
        grid = _gray_grid(cw, ch, lambda x, y: flat[y * cw + x], 4)
        grid_cache[composited] = grid
        out.append((t, cw, ch, grid))
    return out


def _gif_frames_walk(payload: bytes):
    """All image frames of a GIF with their GCE animation state:
    (screen_w, screen_h, bg_luma, frames) where frames =
    [(left, top, iw, ih, delay_ms, disposal, luma_row_major,
    trans_mask)] — luma per pixel from the frame's color table,
    trans_mask True where the GCE transparent index leaves the canvas
    unchanged. None when ``payload`` isn't a GIF."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_idx = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    if not sw or not sh:
        return None

    def table_luma(table, i):
        p = 3 * i
        if p + 3 > len(table):
            return 0
        return (table[p] * 299 + table[p + 1] * 587
                + table[p + 2] * 114) // 1000

    bg_luma = table_luma(gct, bg_idx) if gct else 255
    frames = []
    delay_cs = 0
    disposal = 0
    trans_idx = None
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:
            label = payload[pos + 1] if pos + 1 < len(payload) else 0
            pos += 2
            if label == 0xF9 and pos < len(payload) and payload[pos] >= 4:
                flags = payload[pos + 1]
                delay_cs = int.from_bytes(payload[pos + 2:pos + 4],
                                          "little")
                disposal = (flags >> 2) & 7
                trans_idx = payload[pos + 4] if flags & 1 else None
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:
            left = int.from_bytes(payload[pos + 1:pos + 3], "little")
            top = int.from_bytes(payload[pos + 3:pos + 5], "little")
            iw = int.from_bytes(payload[pos + 5:pos + 7], "little")
            ih = int.from_bytes(payload[pos + 7:pos + 9], "little")
            ip = payload[pos + 9]
            pos += 10
            table = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                table = payload[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image without a color table")
            mcs = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                lzw += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(lzw), mcs, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF frame data")
            if ip & 0x40:
                rows = []
                for start, step in _GIF_INTERLACE:
                    rows.extend(range(start, ih, step))
                de = bytearray(iw * ih)
                for src_row, dst_row in enumerate(rows):
                    de[dst_row * iw:(dst_row + 1) * iw] = \
                        idx[src_row * iw:(src_row + 1) * iw]
                idx = bytes(de)
            luma = [table_luma(table, i) for i in idx]
            mask = ([i == trans_idx for i in idx]
                    if trans_idx is not None else None)
            frames.append((left, top, iw, ih, max(delay_cs, 1) * 10,
                           disposal, luma, mask))
            delay_cs = 0
            disposal = 0
            trans_idx = None
        elif b == 0x3B:
            break
        else:
            pos += 1
    if not frames:
        return None
    return sw, sh, bg_luma, frames


def _gif_anim_frames(raw: bytes, every_ms: int,
                     duration_ms: int | None):
    """Sampled decode for ANIMATED GIF: composite the frame timeline
    (GIF89a disposal methods — none/keep, restore-to-background as
    clear-to-transparent per the universal renderer convention,
    restore-to-previous — and GCE transparency) and emit the canvas
    luma at each tick flattened over the background color. None unless
    the payload is a multi-frame GIF (stills stay on decode_image)."""
    parsed = _gif_frames_walk(raw or b"")
    if parsed is None or len(parsed[3]) < 2:
        return None
    sw, sh, bg_luma, frames = parsed
    _anim_caps(sw * sh, len(frames))
    if duration_ms is None:
        duration_ms = sum(f[4] for f in frames)
    starts = []
    t0 = 0
    for f in frames:
        starts.append(t0)
        t0 += f[4]
    canvas_l = [0] * (sw * sh)
    canvas_a = [False] * (sw * sh)
    pending = None  # ("bg", rect) | ("prev", rect, saved_l, saved_a)
    composited = -1
    out = []
    grid_cache = {}
    for t in range(0, max(duration_ms - 1, 0) + 1, every_ms):
        k = 0
        for j, st in enumerate(starts):
            if st <= t:
                k = j
        while composited < k:
            composited += 1
            if pending is not None:
                if pending[0] == "bg":
                    _, (dx, dy, dw, dh) = pending
                    for r in range(dh):
                        if dy + r >= sh:
                            break
                        row = (dy + r) * sw
                        for c in range(dw):
                            if dx + c >= sw:
                                break
                            canvas_a[row + dx + c] = False
                else:
                    _, _, canvas_l, canvas_a = pending
                pending = None
            left, top, iw, ih, _, disposal, luma, mask = \
                frames[composited]
            if disposal == 3:
                pending = ("prev", None, canvas_l[:], canvas_a[:])
            elif disposal == 2:
                pending = ("bg", (left, top, iw, ih))
            for r in range(ih):
                cy = top + r
                if cy >= sh:
                    break
                row = cy * sw
                frow = r * iw
                for c in range(iw):
                    cx = left + c
                    if cx >= sw:
                        break
                    if mask is not None and mask[frow + c]:
                        continue
                    canvas_l[row + cx] = luma[frow + c]
                    canvas_a[row + cx] = True
        if composited in grid_cache:
            out.append((t, sw, sh, grid_cache[composited]))
            continue
        flat = [canvas_l[i] if canvas_a[i] else bg_luma
                for i in range(sw * sh)]
        grid = _gray_grid(sw, sh, lambda x, y: flat[y * sw + x], 4)
        grid_cache[composited] = grid
        out.append((t, sw, sh, grid))
    return out



# adversarial-payload guards for the animation compositors: a crawl WILL
# contain canvas/frame-count bombs; exceeding either cap raises
# ValueError, which the sample_frames kernel degrades to the honest
# NULL-pixel token lanes instead of stalling a task for minutes
_MAX_ANIM_PIXELS = 4_000_000
_MAX_ANIM_FRAMES = 10_000


def _anim_caps(n_pixels: int, n_frames: int) -> None:
    if n_pixels > _MAX_ANIM_PIXELS:
        raise ValueError(f"animation canvas too large ({n_pixels}px)")
    if n_frames > _MAX_ANIM_FRAMES:
        raise ValueError(f"too many animation frames ({n_frames})")


def _webp_anim_walk(raw: bytes):
    """None unless ``raw`` is a RIFF WebP with ANMF animation frames.
    Returns (canvas_w, canvas_h, bg_bgra, frames) with frames =
    [(x, y, dur_ms, dispose_to_bg, no_blend, payload)] — payload is
    the frame's image subchunk bytes (optional ALPH + VP8/VP8L), per
    the public WebP container spec."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        return None
    canvas_w = canvas_h = None
    bg = (255, 255, 255, 255)
    frames = []
    i = 12
    while i + 8 <= len(raw):
        cc = raw[i:i + 4]
        sz = int.from_bytes(raw[i + 4:i + 8], "little")
        d = raw[i + 8:i + 8 + sz]
        if cc == b"VP8X" and len(d) >= 10:
            canvas_w = int.from_bytes(d[4:7], "little") + 1
            canvas_h = int.from_bytes(d[7:10], "little") + 1
        elif cc == b"ANIM" and len(d) >= 6:
            bg = tuple(d[0:4])  # B, G, R, A
        elif cc == b"ANMF" and len(d) >= 16:
            fx = int.from_bytes(d[0:3], "little") * 2
            fy = int.from_bytes(d[3:6], "little") * 2
            dur = int.from_bytes(d[12:15], "little")
            flags = d[15]
            frames.append((fx, fy, dur, bool(flags & 1),
                           bool(flags & 2), d[16:]))
        i += 8 + sz + (sz & 1)
    if not frames or canvas_w is None:
        return None
    return canvas_w, canvas_h, bg, frames


def _alph_unfilter(alpha, w, h, method):
    """WebP ALPH filtering methods 1-3 (horizontal/vertical/gradient)
    add the prediction back in place, per the container spec."""
    if method == 0:
        return alpha
    for y in range(h):
        row = y * w
        for x in range(w):
            if method == 1:
                p = alpha[row + x - 1] if x else (
                    alpha[row - w + x] if y else 0)
            elif method == 2:
                p = alpha[row - w + x] if y else (
                    alpha[row + x - 1] if x else 0)
            else:
                if x and y:
                    g = (alpha[row + x - 1] + alpha[row - w + x]
                         - alpha[row - w + x - 1])
                    p = 0 if g < 0 else (255 if g > 255 else g)
                elif x:
                    p = alpha[row + x - 1]
                elif y:
                    p = alpha[row - w + x]
                else:
                    p = 0
            alpha[row + x] = (alpha[row + x] + p) & 0xFF
    return alpha


def _alph_decode(data: bytes, w: int, h: int):
    """Alpha plane from a WebP ALPH chunk: raw or VP8L-compressed
    (the lossless image stream minus signature/dims, green channel),
    then un-filtered. Returns a list of w*h alpha bytes."""
    if not data:
        raise ValueError("empty ALPH chunk")
    comp = data[0] & 3
    method = (data[0] >> 2) & 3
    if comp == 0:
        if len(data) < 1 + w * h:
            raise ValueError("short raw ALPH plane")
        alpha = list(data[1:1 + w * h])
    elif comp == 1:
        from .vp8l import _BitReader, _decode_image_stream
        px = _decode_image_stream(_BitReader(data[1:]), w, h, level0=True)
        alpha = [(p >> 8) & 0xFF for p in px]
    else:
        raise ValueError(f"reserved ALPH compression {comp}")
    return _alph_unfilter(alpha, w, h, method)


def _decode_webp_frame_la(payload: bytes):
    """(w, h, luma, alpha) for one animation frame's image subchunks
    (optional ALPH + one VP8/VP8L chunk); alpha is None when the frame
    is fully opaque (lossy without ALPH)."""
    alph = None
    i = 0
    while i + 8 <= len(payload):
        cc = payload[i:i + 4]
        sz = int.from_bytes(payload[i + 4:i + 8], "little")
        d = payload[i + 8:i + 8 + sz]
        if cc == b"ALPH":
            alph = d
        elif cc == b"VP8 ":
            from .vp8 import decode_vp8_frame
            w, h, y, _, _ = decode_vp8_frame(d)
            alpha = _alph_decode(alph, w, h) if alph is not None else None
            return w, h, list(y), alpha
        elif cc == b"VP8L":
            from .vp8l import decode_vp8l_chunk
            w, h, argb = decode_vp8l_chunk(d)
            luma = [((p >> 16 & 0xFF) * 299 + (p >> 8 & 0xFF) * 587
                     + (p & 0xFF) * 114) // 1000 for p in argb]
            alpha = [p >> 24 for p in argb]
            return w, h, luma, alpha
        i += 8 + sz + (sz & 1)
    raise ValueError("ANMF frame without VP8/VP8L image chunk")


def _webp_anim_frames(raw: bytes, every_ms: int,
                      duration_ms: int | None):
    """Sampled decode for ANIMATED WebP: walk the ANMF timeline,
    composite each frame onto the canvas with the container spec's
    alpha-blend / overwrite + dispose-to-background rules (exact
    integer arithmetic on luma+alpha — luma is what the grid
    summarizes), and emit the canvas state at each ``every_ms`` tick
    flattened over the ANIM background color. Returns None when
    ``raw`` isn't an animated WebP."""
    parsed = _webp_anim_walk(raw)
    if parsed is None:
        return None
    cw, ch, bg, frames = parsed
    _anim_caps(cw * ch, len(frames))
    bg_luma = (bg[2] * 299 + bg[1] * 587 + bg[0] * 114) // 1000
    bg_alpha = bg[3]
    total = sum(max(f[2], 1) for f in frames)
    if duration_ms is None:
        duration_ms = total
    # frame k covers [start_k, start_k + dur_k); zero durations count 1
    starts = []
    t0 = 0
    for f in frames:
        starts.append(t0)
        t0 += max(f[2], 1)
    canvas_l = [0] * (cw * ch)
    canvas_a = [0] * (cw * ch)  # canvas starts fully transparent
    pending_dispose = None
    composited = -1
    out = []
    grid_cache = {}
    for t in range(0, max(duration_ms - 1, 0) + 1, every_ms):
        k = 0
        for j, st in enumerate(starts):
            if st <= t:
                k = j
        while composited < k:
            composited += 1
            if pending_dispose is not None:
                dx, dy, dw, dh = pending_dispose
                for r in range(dh):
                    cy = dy + r
                    if cy >= ch:
                        break
                    row = cy * cw
                    for c in range(dw):
                        if dx + c >= cw:
                            break
                        canvas_l[row + dx + c] = bg_luma
                        canvas_a[row + dx + c] = bg_alpha
                pending_dispose = None
            fx, fy, _, dispose, no_blend, payload = frames[composited]
            fw, fh, luma, alpha = _decode_webp_frame_la(payload)
            for r in range(fh):
                cy = fy + r
                if cy >= ch:
                    break
                row = cy * cw
                frow = r * fw
                for c in range(fw):
                    cx = fx + c
                    if cx >= cw:
                        break
                    ls = luma[frow + c]
                    asrc = 255 if alpha is None else alpha[frow + c]
                    if no_blend or asrc == 255:
                        canvas_l[row + cx] = ls
                        canvas_a[row + cx] = asrc
                    elif asrc:
                        ad = canvas_a[row + cx]
                        aout = asrc * 255 + ad * (255 - asrc)  # x255^2
                        num = (ls * asrc * 255
                               + canvas_l[row + cx] * ad * (255 - asrc))
                        canvas_l[row + cx] = num // aout
                        canvas_a[row + cx] = (aout + 127) // 255
            if dispose:
                # applied at the START of the next composite step: the
                # frame stays visible for its own display window
                pending_dispose = (fx, fy, fw, fh)
        if composited in grid_cache:
            out.append((t, cw, ch, grid_cache[composited]))
            continue
        flat = canvas_l[:]
        for i, a in enumerate(canvas_a):
            if a != 255:
                flat[i] = (canvas_l[i] * a + bg_luma * (255 - a)) // 255
        grid = _gray_grid(cw, ch, lambda x, y: flat[y * cw + x], 4)
        grid_cache[composited] = grid
        out.append((t, cw, ch, grid))
    return out


def _webm_vp8_frames(raw: bytes, every_ms: int,
                     duration_ms: int | None):
    """Keyframe-accurate sampled decode for WebM VP8 video: the EBML
    block walk finds the video track's keyframes and vp8.py (the RFC
    6386 keyframe decoder) turns the latest keyframe at or before each
    ``every_ms`` tick into the shared 4x4 luma grid. Interframes need
    reference-buffer motion compensation, so sampling snaps to the
    governing keyframe — the standard thumbnail semantics. Returns
    None when ``raw`` isn't a WebM with a VP8 video track."""
    parsed = _walk_webm(raw)
    if parsed is None:
        return None
    codec, _, _, dur, blocks = parsed
    if codec != "V_VP8" or not blocks:
        return None
    keys = [(t, off, sz) for (t, k, off, sz) in blocks if k]
    if not keys:
        return None
    if duration_ms is None:
        duration_ms = dur if dur else keys[-1][0] + every_ms
    from .vp8 import decode_vp8_frame
    out = []
    cache: dict[int, tuple] = {}
    for t in range(0, max(duration_ms - 1, 0) + 1, every_ms):
        pick = None
        for k, (bt, off, sz) in enumerate(keys):
            if bt <= t:
                pick = k
            else:
                break
        if pick is None:
            continue
        if pick not in cache:
            _, off, sz = keys[pick]
            w, h, y, _, _ = decode_vp8_frame(raw[off:off + sz])
            cache[pick] = (w, h, _gray_grid(
                w, h, lambda x, yy: y[yy * w + x], 4))
        w, h, grid = cache[pick]
        out.append((t, w, h, grid))
    return out


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_ms", IntegerType()),
    StructField("frame_token", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("frame_luma", BinaryType()),
])


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """One row per sampled video timestamp. REAL decodes cover
    Motion-JPEG mp4 (ISO-BMFF sample-table walk + jpeg.py), WebM VP8
    (EBML walk + the RFC 6386 keyframe decoder, keyframe-snapped),
    animated WebP (ANMF compositing over vp8.py/vp8l.py), animated
    GIF (disposal/transparency compositing) and APNG (acTL/fcTL/fdAT
    with dispose/blend ops) — (width, height,
    frame_luma 4x4-grid) are actual pixels, pytest-pinned. Other
    codecs (h264/vp9/av1 …) keep the honest NULL pixel lanes with the
    deterministic frame_token — the explode/partition shape is real
    for every row, the bitstream decode still needs a codec library.
    mapInPandas, no shuffle."""

    def frames(payload, dur):
        raw = bytes(payload or b"")
        dur_i = None if pd.isna(dur) else int(dur)
        try:
            decoded = decode_video_frames(raw, every_ms, dur_i)
        except Exception:  # noqa: BLE001 - corrupt sample table
            decoded = None
        if decoded is not None:
            return [(t, _frame_token(raw, t), w, h, grid)
                    for t, w, h, grid in decoded]
        if dur_i is None:
            return []  # no duration, no sample table: nothing
        return [(t, _frame_token(raw, t), None, None, None)
                for t in range(0, max(dur_i - 1, 0) + 1, every_ms)]

    vids = media.filter(F.col("kind") == "video") \
        .select("media_id", "payload", "duration_ms")
    return vids.mapInPandas(
        row_kernel(FRAME_SCHEMA, frames, ("payload", "duration_ms"),
                   ("media_id",)), FRAME_SCHEMA)


def _frame_token(raw: bytes, frame_ms: int) -> int:
    """Deterministic 64-bit token of (payload, timestamp) — the frame
    identity key downstream dedup joins on (signed, Spark LongType)."""
    d = hashlib.sha256(raw + frame_ms.to_bytes(8, "big")).digest()
    v = int.from_bytes(d[:8], "big")
    return v - (1 << 64) if v >= 1 << 63 else v


MEDIA_METADATA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("bitrate_kbps", IntegerType()),
    StructField("duration_ms", IntegerType()),
])


def media_metadata(media: DataFrame) -> DataFrame:
    """One typed-metadata row per media row — the cheap census pass over
    a 100 TB media corpus: HEADER reads only (PNG IHDR, JPEG SOF walk,
    BMP/PPM headers, WAV fmt/data chunks, WebP/GIF/AVIF containers, mp3
    frame header + CBR estimate, mp4 mvhd/tkhd), never an entropy or
    pixel decode. Unrecognized or corrupt payloads yield ``format``
    NULL with all fields NULL — observable, never dropped, never a task
    failure. mapInPandas, no shuffle; composes with any layout."""
    cols = MEDIA_METADATA_SCHEMA.fieldNames()[1:]

    def metadata(payload):
        try:
            meta = sniff_media(bytes(payload or b""))
        except Exception:  # noqa: BLE001 - malformed header
            meta = None
        return [tuple(meta[k] if meta else None for k in cols)]

    return media.select("media_id", "payload").mapInPandas(
        row_kernel(MEDIA_METADATA_SCHEMA, metadata, ("payload",),
                   ("media_id",)), MEDIA_METADATA_SCHEMA)


# --- perceptual image hashing (near-duplicate images) --------------------

def _dhash_decode(payload: bytes):
    """(width, height, dhash|None) via one decode at the 9x8 dHash
    grid. None dhash when the payload has no REAL pixel decode (codec
    formats whose summary is a digest stand-in)."""
    w, h, cells = decode_image(payload, grid=(9, 8))
    if len(cells) != 72:
        return w, h, None
    bits = 0
    for y in range(8):
        row = y * 9
        for x in range(8):
            bits = (bits << 1) | (1 if cells[row + x] > cells[row + x + 1]
                                  else 0)
    if bits >= 1 << 63:
        bits -= 1 << 64  # two's complement into a Spark LongType
    return w, h, bits


def image_dhash(payload: bytes):
    """64-bit difference hash (dHash, the row-gradient perceptual hash):
    decode -> 9x8 block-averaged luma grid -> one bit per horizontal
    neighbor comparison. Robust to re-encoding/resizing, so
    re-compressed copies of one crawl image land within a few bits.
    None when the payload can't be pixel-decoded."""
    try:
        return _dhash_decode(payload)[2]
    except (ValueError, NotImplementedError, IndexError):
        return None


IMAGE_DHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("dhash", LongType()),
])


def with_image_dhash(media: DataFrame) -> DataFrame:
    """(media_id, width, height, dhash) for every media row — the
    perceptual-hash pass of an image dedup pipeline. Corrupt /
    undecodable payloads yield NULL columns (observable, never a task
    failure); codec formats without a pixel decoder yield real header
    dimensions with NULL dhash. mapInPandas, no shuffle."""

    def dhash(payload):
        try:
            return [_dhash_decode(bytes(payload or b""))]
        except Exception:  # noqa: BLE001 - corrupt payloads degrade
            return [(None, None, None)]

    return media.select("media_id", "payload").mapInPandas(
        row_kernel(IMAGE_DHASH_SCHEMA, dhash, ("payload",), ("media_id",)),
        IMAGE_DHASH_SCHEMA)


def image_near_dups(hashed: DataFrame, max_hamming: int = 3,
                    max_bucket: int = 1000) -> DataFrame:
    """(id_a, id_b, hamming) candidate near-duplicate image pairs from
    a (media_id, dhash) frame: the 64-bit hash splits into four 16-bit
    BANDS; images sharing any band value become candidates (equi-join,
    never all-pairs), then the exact Hamming distance gates at
    ``max_hamming`` — JVM ``bit_count(xor)``, no Python. Recall is
    GUARANTEED for max_hamming < 4 (pigeonhole over 4 bands: 3 flipped
    bits cannot touch every band); larger radii are best-effort, the
    standard banding trade-off. ``max_bucket`` drops degenerate buckets
    (a solid-color band value shared by millions of thumbnails) before
    the self-join — the same cap-and-observe convention as the MinHash
    LSH stage (dedup.py)."""
    d = hashed.filter(F.col("dhash").isNotNull()) \
        .select("media_id", "dhash")
    bands = d.select(
        "media_id", "dhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"),
                     F.expr(f"shiftright(dhash, {16 * k}) & 65535")
                     .alias("val"))
            for k in range(4)])).alias("b")) \
        .select("media_id", "dhash", "b.band", "b.val")
    sizes = bands.groupBy("band", "val").agg(F.count("*").alias("_n"))
    ok = bands.join(sizes.filter(F.col("_n") <= max_bucket),
                    ["band", "val"]).drop("_n")
    a = ok.select("band", "val", F.col("media_id").alias("id_a"),
                  F.col("dhash").alias("_ha"))
    b = ok.select("band", "val", F.col("media_id").alias("id_b"),
                  F.col("dhash").alias("_hb"))
    return (a.join(b, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_ha", "_hb").distinct()
            .withColumn("hamming",
                        F.expr("bit_count(_ha ^ _hb)").cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# --- audio fingerprinting (near-duplicate audio) -------------------------

def _afp_decode(payload: bytes):
    """(sample_rate, duration_ms, fingerprint|None) via one decode at
    the 65-window energy profile. None fingerprint when samples aren't
    really decodable (codec stand-in paths raise upstream)."""
    rate, _nch, duration_ms, prof = decode_audio(payload, n_windows=65)
    if len(prof) != 65:
        return rate, duration_ms, None
    bits = 0
    for i in range(64):
        bits = (bits << 1) | (1 if prof[i + 1] > prof[i] else 0)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return rate, duration_ms, bits


def audio_fingerprint(payload: bytes):
    """64-bit energy-envelope fingerprint (the dHash idea on the time
    axis, the shape chromaprint-class fingerprints build on): decode ->
    65-window RMS loudness profile -> one bit per consecutive-window
    comparison. Robust to uniform gain changes (comparisons are
    scale-invariant) and to re-encoding that preserves the envelope.
    None when samples can't be decoded (mp3/ogg codec formats)."""
    try:
        return _afp_decode(payload)[2]
    except (ValueError, NotImplementedError, IndexError):
        return None


AUDIO_FP_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", IntegerType()),
    StructField("afp", LongType()),
])


def with_audio_fingerprint(media: DataFrame) -> DataFrame:
    """(media_id, sample_rate, duration_ms, afp) per media row — the
    fingerprint pass of an audio dedup pipeline (WAV PCM/G.711 + FLAC
    decode for real; codec formats and corrupt payloads yield NULL
    fingerprints, never task failures). mapInPandas, no shuffle."""

    def fingerprint(payload):
        try:
            return [_afp_decode(bytes(payload or b""))]
        except Exception:  # noqa: BLE001 - undecodable degrades
            return [(None, None, None)]

    return media.select("media_id", "payload").mapInPandas(
        row_kernel(AUDIO_FP_SCHEMA, fingerprint, ("payload",), ("media_id",)),
        AUDIO_FP_SCHEMA)


def audio_near_dups(fingerprinted: DataFrame, max_hamming: int = 3,
                    max_bucket: int = 1000) -> DataFrame:
    """(id_a, id_b, hamming) near-duplicate audio pairs — the same
    4x16-bit banded equi-join + exact bit_count gate as
    :func:`image_near_dups` (see there for the recall guarantee and the
    bucket cap), over the ``afp`` column."""
    return image_near_dups(
        fingerprinted.filter(F.col("afp").isNotNull())
        .select("media_id", F.col("afp").alias("dhash")),
        max_hamming=max_hamming, max_bucket=max_bucket)
