"""Pure-stdlib image codecs for the multimodal operators.

Real decode paths for three public formats — PNG (RFC 2083 / W3C spec:
zlib-compressed scanlines with per-row filters 0-4), BMP
(BITMAPINFOHEADER, uncompressed 24/32-bit), and PPM (netpbm P6/P3) —
implemented against the published specifications with only ``zlib``,
``struct`` and numpy. No imaging library is required, so the
``fake=False`` paths in :mod:`multimodal` are genuinely executable in
this container.

Reference parity note: the reference engine ships NO media kernels at
all; these codecs exist because the brief's training-data pipeline
treats multimodal columns as first-class. The kernels are
correctness-grade (bit-exact against the specs, golden-tested); a
production deployment would swap a SIMD decoder (PIL/torchvision/ffmpeg)
into the same mapInPandas slots — the Spark-side plumbing is identical.

All decoders return ``(width, height, pixels)`` with ``pixels`` an
``np.uint8`` array of shape (height, width, channels).
"""

from __future__ import annotations

import functools
import struct
import typing as _ty
import zlib

import numpy as np


def named_errors(fmt: str):
    """Decoder decorator: any error a malformed stream raises surfaces as
    a ValueError whose message names ``fmt``."""

    def deco(decode):
        @functools.wraps(decode)
        def wrapped(data):
            try:
                return decode(data)
            except ValueError as e:
                if fmt in str(e).lower():
                    raise
                raise ValueError(f"{fmt}: {e}") from e
            except (IndexError, KeyError, OverflowError, ZeroDivisionError,
                    struct.error, zlib.error) as e:
                raise ValueError(
                    f"{fmt}: malformed stream ({type(e).__name__}: {e})"
                ) from e

        return wrapped

    return deco


# ---------------------------------------------------------------------------
# PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, rgb, gray+a, rgba


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@named_errors("png")
def decode_png(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """Decode an 8-bit non-interlaced PNG (color types 0/2/4/6) per the
    public spec: chunk walk -> zlib inflate -> per-scanline unfilter
    (None/Sub/Up/Average/Paeth)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color not in _COLOR_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            channels = _COLOR_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return w, h, out.reshape(h, w, channels)


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal spec-correct PNG encoder (8-bit gray/rgb/rgba, one IDAT,
    a single filter type for every row — selectable so tests can force
    each unfilter branch)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, channels = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = arr.reshape(h, w * channels).astype(np.int16)
    lines = bytearray()
    prev = np.zeros(w * channels, dtype=np.int16)
    for y in range(h):
        row = flat[y]
        if filter_type == 0:
            enc = row
        elif filter_type == 1:
            left = np.concatenate([np.zeros(channels, np.int16), row[:-channels]])
            enc = (row - left) % 256
        elif filter_type == 2:
            enc = (row - prev) % 256
        elif filter_type == 3:
            left = np.concatenate([np.zeros(channels, np.int16), row[:-channels]])
            enc = (row - ((left + prev) >> 1)) % 256
        elif filter_type == 4:
            left = np.concatenate([np.zeros(channels, np.int16), row[:-channels]])
            ul = np.concatenate([np.zeros(channels, np.int16), prev[:-channels]])
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, ul)],
                dtype=np.int16,
            )
            enc = (row - pred) % 256
        else:
            raise ValueError(f"bad filter {filter_type}")
        lines.append(filter_type)
        lines.extend(enc.astype(np.uint8).tobytes())
        prev = row
    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP

@named_errors("bmp")
def decode_bmp(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """Decode an uncompressed (BI_RGB) 24/32-bit BITMAPINFOHEADER BMP:
    bottom-up rows (top-down when height < 0), 4-byte row padding, BGR(A)
    byte order."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", data[10:14])
    (hsize,) = struct.unpack("<I", data[14:18])
    if hsize < 40:
        raise ValueError(f"unsupported BMP header size {hsize}")
    w, h_signed = struct.unpack("<ii", data[18:26])
    bpp, comp = struct.unpack("<HI", data[28:34])
    if comp != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    top_down = h_signed < 0
    h = abs(h_signed)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    if w < 0 or (h and offset + (h - 1) * stride + w * nch > len(data)):
        raise ValueError(f"BMP declares {w}x{h} pixels, beyond its {len(data)} bytes")
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for row in range(h):
        src = offset + row * stride
        y = row if top_down else h - 1 - row
        line = np.frombuffer(data[src : src + w * nch], dtype=np.uint8).reshape(
            w, nch
        )
        px[y] = line[:, 2::-1]  # BGR(A) -> RGB
    return w, h, px


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB encoder (bottom-up, padded rows)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = arr[y, :, ::-1].tobytes()  # RGB -> BGR
        body.extend(row)
        body.extend(b"\x00" * (stride - len(row)))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header) + bytes(body)


# ---------------------------------------------------------------------------
# PPM (netpbm)

@named_errors("ppm")
def decode_ppm(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """Decode P6 (binary) or P3 (ascii) PPM, maxval 255."""
    magic = data[:2]
    if magic not in (b"P6", b"P3"):
        raise ValueError("not a PPM")
    # header tokens: magic, width, height, maxval (with # comments)
    tokens: _ty.List[bytes] = []
    pos = 2
    while len(tokens) < 3 and pos < len(data):
        c = data[pos : pos + 1]
        if c == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(data) and not data[pos : pos + 1].isspace():
                pos += 1
            tokens.append(data[start:pos])
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError("only maxval 255 PPM supported")
    if w < 0 or h < 0 or w * h * 3 > len(data) - pos:
        raise ValueError(f"PPM declares {w}x{h} pixels, beyond its {len(data)} bytes")
    if magic == b"P6":
        pos += 1  # exactly one whitespace after maxval
        px = np.frombuffer(data[pos : pos + w * h * 3], dtype=np.uint8)
    else:
        px = np.array(data[pos:].split(), dtype=np.int64).astype(np.uint8)
    return w, h, px.reshape(h, w, 3)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """P6 encoder — the re-encode format for :func:`multimodal.resize_media`."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


# ---------------------------------------------------------------------------
# GIF (87a/89a): indexed color through a REAL variable-width LZW codec.
# Pure stdlib + numpy, same contract as the other decoders: exact pixels
# or a ValueError naming the defect. Bit packing is LSB-first; code width
# starts at min_code_size+1 and grows as the string table fills (capped
# at 12 bits per the spec); interlaced images are de-interlaced with the
# standard 8/8/4/2 four-pass row order.

_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))
_GRAY_PALETTE = tuple((k, k, k) for k in range(256))  # identity palette


def _lzw_encode(min_code_size: int, data: bytes) -> bytes:
    # r13 (guide §4.2): the string table is keyed on
    # (prefix_code << 8) | byte integers instead of byte strings, and the
    # bit-packing emit() closure is inlined — no per-step bytes
    # concatenation or function-call overhead. prefix codes are < 4096 so
    # the key is collision-free; a root string's code IS its byte value,
    # so tracking the current string's CODE is exactly tracking table[w].
    # Byte-identical output pinned by
    # test_lzw_int_table_matches_reference_implementation.
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: dict = {}  # only 2+-length strings are ever keyed
    next_code = end + 1
    out = bytearray()
    out_append = out.append
    acc = clear
    nacc = width
    while nacc >= 8:
        out_append(acc & 0xFF)
        acc >>= 8
        nacc -= 8
    wcode = -1
    table_get = table.get
    for b in data:
        if wcode >= 0:
            code = table_get((wcode << 8) | b)
            if code is not None:
                wcode = code
                continue
            acc |= wcode << nacc
            nacc += width
            while nacc >= 8:
                out_append(acc & 0xFF)
                acc >>= 8
                nacc -= 8
            table[(wcode << 8) | b] = next_code
            next_code += 1
            # the code emitted NEXT may be next_code-1, which needs one
            # more bit once next_code exceeds 1<<width (decoder grows in
            # lockstep when its table reaches 1<<width)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            if next_code == 4096:  # table full: reset rather than defer
                acc |= clear << nacc
                nacc += width
                while nacc >= 8:
                    out_append(acc & 0xFF)
                    acc >>= 8
                    nacc -= 8
                table.clear()
                next_code = end + 1
                width = min_code_size + 1
        wcode = b
    if wcode >= 0:
        acc |= wcode << nacc
        nacc += width
        while nacc >= 8:
            out_append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    acc |= end << nacc
    nacc += width
    while nacc >= 8:
        out_append(acc & 0xFF)
        acc >>= 8
        nacc -= 8
    if nacc:
        out_append(acc & 0xFF)
    return bytes(out)


# r13: the root-string table is identical for every stream with the same
# code size — build it once and list()-copy per decode/clear (C-level copy
# of immutable entries vs an interpreted 256-element listcomp per frame).
_LZW_DEC_BASE: dict = {}


def _lzw_decode(min_code_size: int, data: bytes, max_out: int) -> bytearray:
    clear = 1 << min_code_size
    end = clear + 1
    min_width = min_code_size + 1
    width = min_width
    base = _LZW_DEC_BASE.get(clear)
    if base is None:
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        _LZW_DEC_BASE[clear] = base
    table = list(base)
    tlen = end + 1  # tracked instead of len(table) in the hot loop
    out = bytearray()
    prev: bytes | None = None
    acc = nacc = pos = 0
    n = len(data)
    while True:
        while nacc < width:
            if pos >= n:
                raise ValueError("gif: LZW stream truncated (no end code)")
            acc |= data[pos] << nacc
            pos += 1
            nacc += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nacc -= width
        if code == clear:
            table = list(base)
            tlen = end + 1
            width = min_width
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= tlen:
                raise ValueError("gif: first code after clear is not a root")
            entry = table[code]
        elif code < tlen:
            entry = table[code]
        elif code == tlen:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError("gif: LZW code beyond string table")
        if prev is not None and tlen < 4096:
            table.append(prev + entry[:1])
            tlen += 1
            if tlen == 1 << width and width < 12:
                width += 1
        out += entry
        if len(out) > max_out:
            raise ValueError("gif: LZW output exceeds image size")
        prev = entry


def _pack_palette(palette) -> bytes:
    """Pack (r, g, b) entries into a 256-entry (768-byte) GIF color
    table — ONE definition for the GCT and every per-frame LCT (r11
    review: three copies had to stay in sync by hand). r13: regular
    (n, 3) int palettes take a numpy fast path (~10x — this ran as a
    256-iteration loop per encoded frame); irregular shapes fall back
    to the loop so the error contract is unchanged."""
    if len(palette) > 256:
        raise ValueError("gif: palette larger than 256 entries")
    try:
        arr = np.asarray(palette, dtype=np.int64)
    except (TypeError, ValueError, OverflowError):
        arr = None
    if arr is not None and arr.ndim == 2 and arr.shape[1] == 3:
        if arr.size and (int(arr.min()) < 0 or int(arr.max()) > 255):
            raise ValueError("bytes must be in range(0, 256)")
        ct = arr.astype(np.uint8).tobytes()
        return ct + b"\x00" * (768 - len(ct))
    ct = bytearray()
    for r, g, b in palette:
        ct += bytes((r, g, b))
    ct += b"\x00" * (768 - len(ct))
    return bytes(ct)


def encode_gif(
    pixels: np.ndarray,
    palette: _ty.Optional[_ty.Sequence[_ty.Tuple[int, int, int]]] = None,
    interlace: bool = False,
) -> bytes:
    """GIF89a encoder over an INDEX array. 2-D uint8 ``pixels`` are
    palette indices; ``palette=None`` means the 256-gray identity
    palette (index k -> (k,k,k)). The synthesis half of the decode
    oracle — tests drive richer streams through both directions."""
    idx = np.asarray(pixels, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("encode_gif expects a 2-D index array")
    h, w = idx.shape
    if palette is None:
        palette = _GRAY_PALETTE
    gct = _pack_palette(palette)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes((0xF7, 0, 0))  # GCT present, 256 entries
    out += gct
    out += b"\x2c" + b"\x00" * 4  # image at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes((0x40 if interlace else 0x00,))
    rows = idx
    if interlace:
        order = [y for off, step in _GIF_PASSES for y in range(off, h, step)]
        rows = idx[order]
    comp = _lzw_encode(8, rows.tobytes())
    out += bytes((8,))  # LZW minimum code size
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        out += bytes((len(block),)) + block
    out += b"\x00\x3b"
    return bytes(out)


@named_errors("gif")
def decode_gif(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """GIF87a/89a decoder: global/local color table, extensions skipped,
    full LZW with code-width growth + KwKwK + mid-stream clear, four-pass
    de-interlacing. Grayscale palettes (r==g==b throughout) decode to a
    2-D array, color palettes to (h, w, 3) — matching the PNG/BMP/PPM
    contract above."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("gif: bad signature")
        packed = data[10]
        pos = 13
        gct = None
        if packed & 0x80:
            size = 2 ** ((packed & 0x07) + 1)
            gct = data[pos : pos + 3 * size]
            pos += 3 * size
        while True:
            block = data[pos]
            if block == 0x3B:
                raise ValueError("gif: trailer before any image data")
            if block == 0x21:  # extension: label byte + sub-blocks
                pos += 2
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if block != 0x2C:
                raise ValueError(f"gif: unexpected block 0x{block:02x}")
            break
        iw = int.from_bytes(data[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(data[pos + 7 : pos + 9], "little")
        ipacked = data[pos + 9]
        pos += 10
        lct = gct
        if ipacked & 0x80:
            size = 2 ** ((ipacked & 0x07) + 1)
            lct = data[pos : pos + 3 * size]
            pos += 3 * size
        if lct is None:
            raise ValueError("gif: no color table")
        min_code = data[pos]
        pos += 1
        comp = bytearray()
        while True:
            ln = data[pos]
            pos += 1
            if ln == 0:
                break
            comp += data[pos : pos + ln]
            pos += ln
        # past the first frame: extensions may precede a second image
        # descriptor (animated GIF) — refuse it loudly instead of
        # silently returning frame 1 as if it were the whole image,
        # matching the ValueError contract of every other defect
        while pos < len(data):
            block = data[pos]
            if block == 0x3B:  # trailer: well-formed single frame
                break
            if block == 0x21:  # extension between frames
                pos += 2
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if block == 0x2C:
                raise ValueError("gif: multi-frame streams unsupported")
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
    except IndexError:
        raise ValueError("gif: container truncated") from None
    raw = _lzw_decode(min_code, bytes(comp), iw * ih)
    if len(raw) < iw * ih:
        raise ValueError("gif: pixel data short of width*height")
    idx = np.frombuffer(bytes(raw[: iw * ih]), dtype=np.uint8).reshape(ih, iw)
    if ipacked & 0x40:  # interlaced: invert the four-pass row order
        out = np.empty_like(idx)
        r = 0
        for off, step in _GIF_PASSES:
            for y in range(off, ih, step):
                out[y] = idx[r]
                r += 1
        idx = out
    pal = np.frombuffer(lct, dtype=np.uint8)
    pal = pal.reshape(-1, 3)
    if len(pal) < 256 and int(idx.max(initial=0)) >= len(pal):
        # decoded pixel indices past the color table: corrupt stream —
        # ValueError like every other defect, never a numpy IndexError
        raise ValueError(
            f"gif: pixel index {int(idx.max())} beyond the "
            f"{len(pal)}-entry color table"
        )
    if (pal[:, 0] == pal[:, 1]).all() and (pal[:, 1] == pal[:, 2]).all():
        return iw, ih, pal[:, 0][idx]
    return iw, ih, pal[idx]


def encode_gif_animated(
    screen_w: int,
    screen_h: int,
    frames: _ty.Sequence[dict],
    palette: _ty.Optional[_ty.Sequence[_ty.Tuple[int, int, int]]] = None,
) -> bytes:
    """GIF89a animation encoder (r11) — the
    synthesis half of :func:`decode_gif_frames`'s oracle. Each frame
    dict: ``idx`` (2-D uint8 palette indices, required), ``left`` /
    ``top`` (rect position, default 0), ``disposal`` (0-3, default 0),
    ``transparent`` (index or None), ``delay`` (centiseconds, default
    0), ``palette`` (per-frame local color table, else the global one),
    ``interlace`` (bool). A Graphic Control Extension precedes every
    frame so the decoder's GCE walk runs on each."""
    if palette is None:
        palette = _GRAY_PALETTE
    gct = _pack_palette(palette)
    out = bytearray(b"GIF89a")
    out += screen_w.to_bytes(2, "little") + screen_h.to_bytes(2, "little")
    out += bytes((0xF7, 0, 0))  # GCT present, 256 entries, bg index 0
    out += gct
    for fr in frames:
        idx = np.asarray(fr["idx"], dtype=np.uint8)
        if idx.ndim != 2:
            raise ValueError("encode_gif_animated: frame idx must be 2-D")
        fh, fw = idx.shape
        left = int(fr.get("left", 0))
        top = int(fr.get("top", 0))
        if left + fw > screen_w or top + fh > screen_h:
            raise ValueError("gif: frame rect outside the logical screen")
        disposal = int(fr.get("disposal", 0))
        transparent = fr.get("transparent")
        delay = int(fr.get("delay", 0))
        gce_packed = (disposal & 0x07) << 2
        tidx = 0
        if transparent is not None:
            gce_packed |= 0x01
            tidx = int(transparent)
        out += bytes((0x21, 0xF9, 4, gce_packed))
        out += delay.to_bytes(2, "little") + bytes((tidx, 0))
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        lpal = fr.get("palette")
        interlace = bool(fr.get("interlace", False))
        ipacked = 0x40 if interlace else 0x00
        if lpal is not None:
            ipacked |= 0x87  # LCT present, 256 entries
            out += bytes((ipacked,))
            out += _pack_palette(lpal)
        else:
            out += bytes((ipacked,))
        rows = idx
        if interlace:
            order = [
                y for off, step in _GIF_PASSES for y in range(off, fh, step)
            ]
            rows = idx[order]
        comp = _lzw_encode(8, rows.tobytes())
        out += bytes((8,))
        for i in range(0, len(comp), 255):
            block = comp[i : i + 255]
            out += bytes((len(block),)) + block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


@named_errors("gif")
def decode_gif_frames(
    data: bytes,
) -> _ty.Tuple[int, int, np.ndarray]:
    """Animated-GIF decoder (r11 — the frame-N
    path :func:`decode_gif`'s multi-frame ValueError points at): walks
    EVERY image descriptor + Graphic Control Extension and returns the
    COMPOSITED canvas after each frame — what a viewer displays — as
    ``(screen_w, screen_h, frames)`` with ``frames`` shaped
    ``(n, h, w)`` when every color table is grayscale, else
    ``(n, h, w, 3)``. Real compositing semantics per the GIF89a spec:
    frames render into their (left, top, w, h) rect; a GCE
    transparency index leaves the underlying canvas pixel; disposal 2
    restores the rect to the background color after display, disposal
    3 restores the pre-frame canvas, 0/1 leave the canvas in place.
    Each frame's pixel data runs through the same LZW +
    de-interlace + color-table machinery as the single-frame decoder.
    Single-frame callers keep :func:`decode_gif` (which still refuses
    multi-frame streams loudly)."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("gif: bad signature")
        sw = int.from_bytes(data[6:8], "little")
        sh = int.from_bytes(data[8:10], "little")
        packed = data[10]
        bg_index = data[11]
        pos = 13
        gct = None
        if packed & 0x80:
            size = 2 ** ((packed & 0x07) + 1)
            gct = data[pos : pos + 3 * size]
            pos += 3 * size
        if gct is not None and bg_index * 3 + 3 <= len(gct):
            bg_rgb = gct[bg_index * 3 : bg_index * 3 + 3]
        else:
            bg_rgb = b"\x00\x00\x00"
        canvas = np.empty((sh, sw, 3), dtype=np.uint8)
        canvas[:, :] = np.frombuffer(bg_rgb, dtype=np.uint8)
        all_gray = bg_rgb[0] == bg_rgb[1] == bg_rgb[2]
        frames: list = []
        transparent: _ty.Optional[int] = None
        disposal = 0
        while True:
            block = data[pos]
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension
                label = data[pos + 1]
                if label == 0xF9 and data[pos + 2] >= 4:
                    gce_packed = data[pos + 3]
                    disposal = (gce_packed >> 2) & 0x07
                    transparent = (
                        data[pos + 6] if gce_packed & 0x01 else None
                    )
                pos += 2
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if block != 0x2C:
                raise ValueError(f"gif: unexpected block 0x{block:02x}")
            left = int.from_bytes(data[pos + 1 : pos + 3], "little")
            top = int.from_bytes(data[pos + 3 : pos + 5], "little")
            iw = int.from_bytes(data[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(data[pos + 7 : pos + 9], "little")
            ipacked = data[pos + 9]
            pos += 10
            lct = gct
            if ipacked & 0x80:
                size = 2 ** ((ipacked & 0x07) + 1)
                lct = data[pos : pos + 3 * size]
                pos += 3 * size
            if lct is None:
                raise ValueError("gif: no color table")
            if left + iw > sw or top + ih > sh:
                raise ValueError("gif: frame rect outside the screen")
            min_code = data[pos]
            pos += 1
            comp = bytearray()
            while True:
                ln = data[pos]
                pos += 1
                if ln == 0:
                    break
                comp += data[pos : pos + ln]
                pos += ln
            raw = _lzw_decode(min_code, bytes(comp), iw * ih)
            if len(raw) < iw * ih:
                raise ValueError("gif: pixel data short of width*height")
            idx = np.frombuffer(
                bytes(raw[: iw * ih]), dtype=np.uint8
            ).reshape(ih, iw)
            if ipacked & 0x40:
                out = np.empty_like(idx)
                r = 0
                for off, step in _GIF_PASSES:
                    for y in range(off, ih, step):
                        out[y] = idx[r]
                        r += 1
                idx = out
            pal = np.frombuffer(lct, dtype=np.uint8).reshape(-1, 3)
            if len(pal) < 256 and int(idx.max(initial=0)) >= len(pal):
                raise ValueError(
                    f"gif: pixel index {int(idx.max())} beyond the "
                    f"{len(pal)}-entry color table"
                )
            if not (
                (pal[:, 0] == pal[:, 1]).all()
                and (pal[:, 1] == pal[:, 2]).all()
            ):
                all_gray = False
            before = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + ih, left : left + iw]
            rgb = pal[idx]
            if transparent is not None:
                mask = idx != transparent
                region[mask] = rgb[mask]
            else:
                region[:, :] = rgb
            frames.append(canvas.copy())
            if disposal == 2:
                canvas[top : top + ih, left : left + iw] = np.frombuffer(
                    bg_rgb, dtype=np.uint8
                )
            elif disposal == 3:
                canvas = before
            transparent = None
            disposal = 0
    except IndexError:
        raise ValueError("gif: container truncated") from None
    if not frames:
        raise ValueError("gif: trailer before any image data")
    stack = np.stack(frames)
    if all_gray:
        return sw, sh, stack[:, :, :, 0]
    return sw, sh, stack


# ---------------------------------------------------------------------------
# dispatch

def sniff_format(data: bytes) -> str | None:
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] in (b"P6", b"P3"):
        return "ppm"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:4] == b"GIF8":
        return "gif"
    return None


def decode_image(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """Sniff + decode. Raises ValueError for unsupported formats."""
    fmt = sniff_format(data)
    if fmt == "png":
        return decode_png(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "jpeg":
        # r9: pure-stdlib baseline-sequential decoder (jpegcodec);
        # progressive/arithmetic streams raise with the feature named
        from .jpegcodec import decode_jpeg

        return decode_jpeg(data)
    if fmt == "gif":
        return decode_gif(data)
    raise ValueError(
        "unsupported image format (supported: png, bmp, ppm, jpeg, gif)"
    )


def resize_nearest(pixels: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample (vectorized index gather)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    return pixels[ys][:, xs]
