"""Minimal stdlib PNG codec — the default image decode path, unblocked.

The container has no pillow and no network to vendor it (attempts logged
in BASELINE.md's environment-gate log), but PNG needs nothing beyond ``zlib`` +
``struct``: the format is DEFLATE-compressed scanlines behind one of
five byte-level prediction filters (PNG spec, RFC 2083 §6). This module
implements exactly the subset the thumbnail pipeline needs —

- ``decode_png``: 8-bit greyscale/RGB/RGBA (color types 0, 2, 6),
  non-interlaced, all five scanline filters (None/Sub/Up/Average/Paeth)
  — the shapes any PNG encoder actually emits for photos/screenshots;
- ``encode_png``: 8-bit RGB writer (filter 0) so tests can synthesize
  real, spec-valid PNGs deterministically with no external data;
- ``PngImage``: the ``.size/.convert('RGB')/.resize((w,h))/.tobytes()``
  protocol ``operators.multimodal.decode_image`` drives, with a
  deterministic nearest-neighbor resize.

Interlaced (Adam7), palette, and 16-bit PNGs raise ``ValueError`` with
the unsupported feature named — per-row error accounting in
``decode_image`` turns that into an error row, never a task failure.
JPEG stays honestly gated on PIL: there is no stdlib inflate-equivalent
for DCT entropy coding worth hand-rolling.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters; returns width*height*bpp bytes."""
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"PNG scanline data is {len(raw)} bytes, expected "
            f"{(stride + 1) * height} for {width}x{height}x{bpp}")
    out = bytearray(stride * height)
    prev_off = -stride
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = raw[pos:pos + stride]
        pos += stride
        off = y * stride
        if ftype == 0:                                   # None
            out[off:off + stride] = line
        elif ftype == 1:                                 # Sub
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                out[off + i] = (line[i] + a) & 0xFF
        elif ftype == 2:                                 # Up
            if y == 0:
                out[off:off + stride] = line
            else:
                for i in range(stride):
                    out[off + i] = (line[i] + out[off + prev_off + i]) & 0xFF
        elif ftype == 3:                                 # Average
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                b = out[off + prev_off + i] if y > 0 else 0
                out[off + i] = (line[i] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:                                 # Paeth
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                b = out[off + prev_off + i] if y > 0 else 0
                c = out[off + prev_off + i - bpp] if (y > 0 and i >= bpp) \
                    else 0
                out[off + i] = (line[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} is invalid")
    return out


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, RGB bytes) from a PNG byte string.

    Greyscale expands to RGB by channel replication; RGBA drops alpha
    (composite-on-black would need a policy decision — training
    thumbnails want the raw pixels). Ancillary chunks are skipped; IDAT
    chunks concatenate per spec.
    """
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = -1
    bit_depth = color_type = interlace = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        pos += 8
        body = data[pos:pos + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        pos += length + 4                         # skip CRC
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"bad IHDR length {len(body)}")
            width, height, bit_depth, color_type, _, _, interlace = \
                struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width <= 0 or height <= 0:
        raise ValueError("PNG missing or empty IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type} "
                         f"(greyscale/RGB/RGBA only; palette needs PIL)")
    if interlace:
        raise ValueError("interlaced (Adam7) PNG unsupported")
    if not idat:
        raise ValueError("PNG has no IDAT data")
    bpp = _CHANNELS[color_type]
    px = _unfilter(zlib.decompress(bytes(idat)), width, height, bpp)
    if color_type == 2:
        rgb = bytes(px)
    elif color_type == 0:
        rgb = bytes(v for g in px for v in (g, g, g))
    else:                                          # RGBA -> drop alpha
        rgb = bytes(v for i in range(0, len(px), 4) for v in px[i:i + 3])
    return width, height, rgb


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Spec-valid 8-bit RGB PNG (filter 0 scanlines, one IDAT)."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, "
                         f"got {len(rgb)}")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(b"\x00" + rgb[y * stride:(y + 1) * stride]
                   for y in range(height))
    return (PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


class PngImage:
    """PIL-protocol wrapper over decoded RGB bytes: exactly the surface
    ``decode_image`` drives. Resize is deterministic nearest-neighbor
    (index = src_dim * (i + 0.5) / dst_dim, floored) — no resample
    kernels, bit-identical everywhere."""

    def __init__(self, width: int, height: int, rgb: bytes):
        self.size = (width, height)
        self._rgb = rgb

    @classmethod
    def open(cls, payload: bytes) -> "PngImage":
        return cls(*decode_png(payload))

    def convert(self, mode: str) -> "PngImage":
        if mode != "RGB":
            raise ValueError(f"PngImage only converts to RGB, not {mode}")
        return self

    def resize(self, wh: tuple[int, int]) -> "PngImage":
        tw, th = wh
        if tw < 1 or th < 1:
            raise ValueError(f"bad resize target {wh}")
        w, h = self.size
        if (tw, th) == (w, h):
            return self
        xs = [min(int(w * (x + 0.5) / tw), w - 1) for x in range(tw)]
        out = bytearray(tw * th * 3)
        o = 0
        for y in range(th):
            sy = min(int(h * (y + 0.5) / th), h - 1)
            row = sy * w * 3
            for sx in xs:
                p = row + sx * 3
                out[o:o + 3] = self._rgb[p:p + 3]
                o += 3
        return PngImage(tw, th, bytes(out))

    def tobytes(self) -> bytes:
        return self._rgb
