"""Pure-stdlib baseline JPEG (ITU-T T.81 / JFIF) decode — the format a
real multimodal corpus is actually made of (r9).

Scope (documented, enforced with clear errors — the same error
discipline as `imagecodec`):

* DECODE: baseline & extended sequential Huffman DCT (SOF0/SOF1) AND
  progressive Huffman DCT (SOF2, r9 — spectral selection + successive
  approximation per T.81 Annex G: interleaved/non-interleaved DC
  first+refinement scans, single-component AC first scans with EOB
  runs, AC refinement with correction bits, restart intervals inside
  every scan type), 8-bit precision, grayscale or 3-component YCbCr,
  any sampling factors (4:4:4 / 4:2:2 / 4:2:0 / ...), multiple
  DQT/DHT segments, 16-bit quant entries. Arithmetic coding
  (SOF9/10), lossless/hierarchical and 12-bit streams raise
  ``ValueError`` naming the unsupported feature — never a wrong-pixel
  fallback.
* ENCODE (`encode_jpeg_blocks`): a deliberately RESTRICTED spec-valid
  encoder for oracle/test synthesis — per-block quantized DC plus an
  optional single AC coefficient at zigzag index 14 (v=0, u=4), flat
  quantization, T.81 Annex K Huffman tables, grayscale / 4:4:4 color
  with constant chroma / 4:2:0 luma grids, optional restart markers,
  and (r9) a four-scan progressive script that codes the SAME
  coefficients through every SOF2 scan type.
  The restriction is the POINT: the IDCT of {DC, F(0,4)} is exactly
  c ± b per pixel (the u=4 cosine basis is ±1/sqrt(2), which cancels
  the C(0)/sqrt(2) normalization), so the decoded image is an exact
  integer function of the coefficients and an external SQL oracle can
  replay every pixel arithmetically (q152 — the q126 pattern).

Rounding contract (shared with the SQL oracle): every float-to-sample
step is ``floor(x + 0.5)`` then clamp to [0, 255] — identical IEEE
doubles on both sides, no round-half-to-even ambiguity.

Reference parity note: the reference engine has no image codecs at
all; this module is part of the beyond-reference multimodal column
family (`multimodal.decode_image_stats`). Decoder structure follows
the public T.81 spec (Annex F baseline sequential) only.
"""

from __future__ import annotations

import typing as _ty

import numpy as np

from .imagecodec import named_errors

# T.81 Figure A.6 zigzag scan order: index k -> (row v, col u)
ZIGZAG: _ty.Tuple[_ty.Tuple[int, int], ...] = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
)

# T.81 Annex K.3 "typical" Huffman tables (public spec): (BITS, HUFFVAL)
K3_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
K3_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
K3_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)
K3_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)

#: IDCT basis A[u, x] = C(u)/2 * cos((2x+1) u pi / 16); spatial =
#: A.T @ F @ A with F indexed [v, u]. float64 throughout — exactness
#: for the oracle family comes from the +-1/sqrt(2) basis cancelling
#: C(0)=1/sqrt(2), leaving integers +- ~1e-13, absorbed by
#: floor(x + 0.5).
_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _sample(x: np.ndarray) -> np.ndarray:
    """The shared rounding contract: floor(x + 0.5), clamp [0, 255]."""
    return np.clip(np.floor(x + 0.5), 0, 255).astype(np.uint8)


def _build_huffman(bits, values) -> dict:
    """Canonical Huffman per T.81 Annex C: {(length, code): value}.

    r13 (guide §4.3, init-once-per-task): the table is a pure function
    of (bits, values) and every stream in a batch carries the same
    standard K.3 tables — memoized by content, consumed read-only
    (_decode_symbol only .get()s), so rebuilding 8 dicts per decoded
    document becomes 8 cache hits."""
    key = (bytes(bits), bytes(values))
    cached = _HUFF_CACHE.get(key)
    if cached is not None:
        return cached
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    if len(_HUFF_CACHE) < 64:  # bound worker memory on hostile streams
        _HUFF_CACHE[key] = table
    return table


_HUFF_CACHE: dict = {}
_HUFF_CODES_CACHE: dict = {}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing. Fills one byte at a time, only on demand, so the
    marker that terminates the scan is never consumed by accident;
    needing bits past it raises (truncated stream discipline)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG: entropy data ends mid-symbol")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG: dangling 0xFF")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError(
                    f"truncated JPEG: marker 0xFF{nxt:02X} inside an "
                    "entropy-coded segment"
                )
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.buf >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expect_idx: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.buf = 0
        self.n = 0
        if self.pos + 1 >= len(self.data):
            raise ValueError("truncated JPEG: missing restart marker")
        if (
            self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (expect_idx & 7)
        ):
            raise ValueError(
                f"bad restart marker at byte {self.pos}: expected "
                f"RST{expect_idx & 7}"
            )
        self.pos += 2


def _decode_symbol(r: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in JPEG entropy data")


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s received bits to the signed coefficient."""
    if s and v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


@named_errors("jpeg")
def decode_jpeg(data: bytes) -> _ty.Tuple[int, int, np.ndarray]:
    """Decode a baseline/extended-sequential or progressive Huffman
    JFIF stream to (width, height, uint8 array — (h, w) gray or
    (h, w, 3) RGB). Progressive coefficients accumulate across scans
    and reconstruct at EOI."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    dri = 0
    frame = None
    progressive = False
    coefs: dict = {}  # progressive: cid -> int64 (by, bx, 64) zigzag store
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG: ran out of markers")
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker byte at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and coefs:
                return _reconstruct(frame, coefs, qt)
            raise ValueError("JPEG has no scan (EOI before SOS)")
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG: missing segment length")
        seg_len = int.from_bytes(data[pos : pos + 2], "big")
        seg = data[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 15
                i += 1
                n = 64 * (2 if prec else 1)
                raw = seg[i : i + n]
                if len(raw) < n:
                    raise ValueError("truncated DQT")
                vals = (
                    np.frombuffer(raw, ">u2") if prec else np.frombuffer(raw, "u1")
                ).astype(np.float64)
                tab = np.zeros((8, 8))
                for k, (vv, uu) in enumerate(ZIGZAG):
                    tab[vv, uu] = vals[k]
                qt[tid] = tab
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                values = list(seg[i + 17 : i + 17 + nv])
                if len(values) != nv:
                    raise ValueError("truncated DHT")
                (huff_dc if cls == 0 else huff_ac)[tid] = _build_huffman(
                    bits, values
                )
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1; SOF2 progressive (r9)
            prec = seg[0]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec} (8 only)")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            comps = []
            for c in range(seg[5]):
                cid, samp, qid = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 15, "q": qid}
                )
            frame = (h, w, comps)
            progressive = marker == 0xC2
            # every coded block costs at least 2 bits (its DC symbol and
            # an EOB); a progressive stream codes every block's DC symbol
            # in its DC scans, at least 1 bit. Reject a frame the stream
            # is too short to code before allocating its planes.
            blocks = sum(
                by * bx for by, bx in (_comp_block_grid(frame, c) for c in comps)
            )
            if blocks * (1 if progressive else 2) > 8 * len(data):
                raise ValueError(
                    f"JPEG declares {w}x{h} pixels ({blocks} blocks), "
                    f"beyond its {len(data)} bytes"
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG coding process (SOF marker 0x{marker:02X})"
                " — baseline/extended sequential Huffman only"
            )
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan_comps = []
            scan_tabs = {}
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_comps.append(cid)
                scan_tabs[cid] = (tabs >> 4, tabs & 15)
            if not progressive:
                # baseline/extended sequential: one scan IS the image
                return _decode_scan(
                    data, pos + seg_len, frame, scan_tabs, qt, huff_dc,
                    huff_ac, dri,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                data, pos + seg_len, frame, coefs, scan_comps, scan_tabs,
                huff_dc, huff_ac, dri, ss, se, ahal >> 4, ahal & 15,
            )
            continue  # more scans (or EOI) follow
        # APPn / COM / anything else: skip
        pos += seg_len


def _decode_scan(data, pos, frame, scan_tabs, qt, huff_dc, huff_ac, dri):
    h, w, comps = frame
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported component count {len(comps)}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for c in comps:
        planes[c["id"]] = np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
        if c["q"] not in qt:
            raise ValueError(f"JPEG references missing quant table {c['q']}")
        dc_id, ac_id = scan_tabs[c["id"]]
        if dc_id not in huff_dc or ac_id not in huff_ac:
            raise ValueError("JPEG references missing Huffman table")

    r = _BitReader(data, pos)
    preds = {c["id"]: 0 for c in comps}
    rst_idx = 0
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu and mcu % dri == 0:
                r.restart(rst_idx)
                rst_idx += 1
                preds = {c["id"]: 0 for c in comps}
            for c in comps:
                dc_tab = huff_dc[scan_tabs[c["id"]][0]]
                ac_tab = huff_ac[scan_tabs[c["id"]][1]]
                q = qt[c["q"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros((8, 8))
                        s = _decode_symbol(r, dc_tab)
                        diff = _extend(r.read_bits(s), s) if s else 0
                        preds[c["id"]] += diff
                        coef[0, 0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(r, ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError(
                                    "JPEG AC coefficient index overflow"
                                )
                            size = rs & 15
                            vv, uu = ZIGZAG[k]
                            coef[vv, uu] = _extend(r.read_bits(size), size)
                            k += 1
                        spatial = _A.T @ (coef * q) @ _A + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu += 1

    if len(comps) == 1:
        return w, h, _sample(planes[comps[0]["id"]][:h, :w])
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"],
                      axis=1)
        full.append(p[:h, :w])
    y, cb, cr = full
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    return w, h, _sample(rgb)


# ---------------------------------------------------------------------------
# progressive (SOF2) scans — r9. Coefficients accumulate across scans
# in per-component zigzag-indexed stores; reconstruction happens once
# at EOI. Algorithms per T.81 Annex G (spectral selection + successive
# approximation, Huffman); the refinement bit discipline follows the
# spec's figures G.7/G.10 (the same flow libjpeg documents publicly).


def _next_marker_pos(data: bytes, pos: int) -> int:
    """First non-stuffing, non-RST marker at/after pos (end of an
    entropy-coded segment)."""
    p = pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    raise ValueError("truncated JPEG: no marker after entropy data")


def _comp_block_grid(frame, c) -> _ty.Tuple[int, int]:
    """Non-interleaved block grid of one component (its OWN scaled
    dims, not the MCU-padded grid)."""
    h, w, comps = frame
    hmax = max(x["h"] for x in comps)
    vmax = max(x["v"] for x in comps)
    cw = -(-w * c["h"] // hmax)
    ch = -(-h * c["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _decode_progressive_scan(
    data, pos, frame, coefs, scan_comps, scan_tabs, huff_dc, huff_ac,
    dri, ss, se, ah, al,
):
    """Decode ONE progressive scan into the coefficient stores; returns
    the position of the next marker."""
    h, w, comps = frame
    byid = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for cid in scan_comps:
        c = byid[cid]
        if cid not in coefs:
            coefs[cid] = np.zeros(
                (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
            )
    r = _BitReader(data, pos)
    state = {"eobrun": 0}
    preds = {cid: 0 for cid in scan_comps}
    rst = {"idx": 0, "mcu": 0}

    def _maybe_restart():
        if dri and rst["mcu"] and rst["mcu"] % dri == 0:
            r.restart(rst["idx"])
            rst["idx"] += 1
            state["eobrun"] = 0
            for cid in preds:
                preds[cid] = 0
        rst["mcu"] += 1

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan must have Se == 0")

        def dc_block(cid, by, bx):
            blk = coefs[cid][by, bx]
            if ah == 0:
                tab = huff_dc[scan_tabs[cid][0]]
                s = _decode_symbol(r, tab)
                diff = _extend(r.read_bits(s), s) if s else 0
                preds[cid] += diff
                blk[0] = preds[cid] << al
            else:  # refinement: one bit, OR'd in (raws are 2^al-aligned)
                if r.read_bit():
                    blk[0] |= 1 << al

        if len(scan_comps) > 1:  # interleaved over MCUs
            for my in range(mcuy):
                for mx in range(mcux):
                    _maybe_restart()
                    for cid in scan_comps:
                        c = byid[cid]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(cid, my * c["v"] + by,
                                         mx * c["h"] + bx)
        else:  # single component: its own grid, one block per MCU
            cid = scan_comps[0]
            bh, bw = _comp_block_grid(frame, byid[cid])
            for by in range(bh):
                for bx in range(bw):
                    _maybe_restart()
                    dc_block(cid, by, bx)
        return _next_marker_pos(data, r.pos)

    # AC scan: exactly one component, non-interleaved (T.81 G.1.1.1.1)
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid = scan_comps[0]
    ac_tab = huff_ac[scan_tabs[cid][1]]
    bh, bw = _comp_block_grid(frame, byid[cid])

    def ac_first(blk):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _decode_symbol(r, ac_tab)
            rr, s = rs >> 4, rs & 15
            if s == 0:
                if rr == 15:  # ZRL
                    k += 16
                    continue
                state["eobrun"] = (1 << rr) - 1
                if rr:
                    state["eobrun"] += r.read_bits(rr)
                break
            k += rr
            if k > se:
                raise ValueError("JPEG AC coefficient index overflow")
            blk[k] = _extend(r.read_bits(s), s) << al
            k += 1

    def ac_refine(blk):
        p1 = 1 << al
        m1 = -p1
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _decode_symbol(r, ac_tab)
                rr, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if rr < 15:  # EOB run
                        state["eobrun"] = 1 << rr
                        if rr:
                            state["eobrun"] += r.read_bits(rr)
                        break
                    # rr == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError(
                            "progressive refinement size must be 1"
                        )
                    val = p1 if r.read_bit() else m1
                # advance: correction bits for nonzero-history coeffs,
                # zero-history positions consume the run
                while k <= se:
                    if blk[k] != 0:
                        if r.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] > 0 else m1
                    else:
                        if rr == 0:
                            break
                        rr -= 1
                    k += 1
                if val != 0 and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:  # EOB: remaining history gets its bits
                if blk[k] != 0:
                    if r.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                k += 1
            state["eobrun"] -= 1

    body = ac_first if ah == 0 else ac_refine
    for by in range(bh):
        for bx in range(bw):
            _maybe_restart()
            body(coefs[cid][by, bx])
    return _next_marker_pos(data, r.pos)


def _reconstruct(frame, coefs, qt):
    """Dequantize + IDCT the accumulated progressive coefficients and
    assemble the image (same sampling/color tail as the sequential
    path)."""
    h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = {}
    for c in comps:
        if c["q"] not in qt:
            raise ValueError(f"JPEG references missing quant table {c['q']}")
        store = coefs.get(c["id"])
        if store is None:
            raise ValueError(f"JPEG component {c['id']} has no scan data")
        q = qt[c["q"]]
        by, bx = store.shape[:2]
        plane = np.zeros((by * 8, bx * 8), dtype=np.float64)
        for i in range(by):
            for j in range(bx):
                F_ = np.zeros((8, 8))
                zz = store[i, j]
                for k, (vv, uu) in enumerate(ZIGZAG):
                    F_[vv, uu] = zz[k]
                plane[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8] = (
                    _A.T @ (F_ * q) @ _A + 128.0
                )
        planes[c["id"]] = plane
    if len(comps) == 1:
        return w, h, _sample(planes[comps[0]["id"]][:h, :w])
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(
            np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(p[:h, :w])
    y, cb, cr = full
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    return w, h, _sample(rgb)


# ---------------------------------------------------------------------------
# restricted encoder for oracle/test synthesis


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        for i in range(bits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def align(self) -> None:  # pad with 1-bits per spec
        while self.n:
            self.write(1, 1)


def _huff_codes(bits, values) -> dict:
    """value -> (code, length), inverse of _build_huffman. Memoized by
    content like _build_huffman (consumed read-only in _write_coef)."""
    key = (bytes(bits), bytes(values))
    cached = _HUFF_CODES_CACHE.get(key)
    if cached is not None:
        return cached
    codes = {
        v: (code, length)
        for (length, code), v in _build_huffman(bits, values).items()
    }
    if len(_HUFF_CODES_CACHE) < 64:
        _HUFF_CODES_CACHE[key] = codes
    return codes


def _write_coef(wtr: _BitWriter, codes: dict, run: int, value: int) -> None:
    s = int(value if value >= 0 else -value).bit_length()
    code, length = codes[(run << 4) | s]
    wtr.write(code, length)
    if s:
        wtr.write(value if value >= 0 else value + (1 << s) - 1, s)


def _encode_progressive_scans(
    dc, ac14, color, restart_interval, quant, subsample=False
) -> bytearray:
    """The four-scan SOF2 entropy body for `encode_jpeg_blocks(
    progressive=True)` — see its docstring for the scan script.
    ``subsample`` emits the real-world 4:2:0 shape: interleaved DC
    scans carry four 2x2-ordered luma blocks per MCU, AC scans stay
    non-interleaved over each component's OWN block grid (luma full,
    chroma halved) in raster order."""
    by, bx = dc.shape
    dc_l = _huff_codes(*K3_DC_LUMA)
    ac_l = _huff_codes(*K3_AC_LUMA)
    dc_c = _huff_codes(*K3_DC_CHROMA)
    ac_c = _huff_codes(*K3_AC_CHROMA)
    plan = [(1, dc_l, ac_l, None)]  # (cid, dc codes, ac codes, const dc)
    if color is not None:
        cbq = (color[0] - 128) * 8 // quant
        crq = (color[1] - 128) * 8 // quant
        if cbq * quant != (color[0] - 128) * 8 or crq * quant != (
            color[1] - 128
        ) * 8:
            raise ValueError("chroma values not exactly representable")
        plan += [(2, dc_c, ac_c, cbq), (3, dc_c, ac_c, crq)]

    out = bytearray()

    def _sos(comp_specs, ss, se, ah, al) -> None:
        sos = bytearray([len(comp_specs)])
        for cid, tabs in comp_specs:
            sos += bytes([cid, tabs])
        sos += bytes([ss, se, (ah << 4) | al])
        out.extend(b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos)

    def _dcv(cid, i, j) -> int:
        for pcid, _d, _a, const in plan:
            if pcid == cid:
                return int(dc[i, j]) if const is None else const
        raise AssertionError(cid)

    # interleaved-MCU grid and per-MCU luma block order (2x2 at 4:2:0)
    mcuy, mcux = (by // 2, bx // 2) if subsample else (by, bx)
    lsamp = 2 if subsample else 1

    def _dc_scan(ah: int, al: int) -> None:
        # DC scans reference only a DC table id (high nibble); luma
        # uses table 0, chroma table 1
        _sos([(cid, 0x00 if cid == 1 else 0x10) for cid, *_ in plan],
             0, 0, ah, al)
        wtr = _BitWriter()
        preds = {cid: 0 for cid, *_ in plan}
        rst = 0
        for m, (mi, mj) in enumerate(
            (mi, mj) for mi in range(mcuy) for mj in range(mcux)
        ):
            if restart_interval and m and m % restart_interval == 0:
                wtr.align()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = {cid: 0 for cid, *_ in plan}
            for cid, dcodes, _a, _c in plan:
                blocks = (
                    [(mi * 2 + si, mj * 2 + sj)
                     for si in range(2) for sj in range(2)]
                    if (cid == 1 and subsample) else [(mi, mj)]
                )
                for i, j in blocks:
                    v = _dcv(cid, i, j)
                    if ah == 0:  # first: diff-code the shifted DC
                        hi = v >> al
                        _write_coef(wtr, dcodes, 0, hi - preds[cid])
                        preds[cid] = hi
                    else:  # refinement: the low bit
                        wtr.write(v & 1, 1)
        wtr.align()
        out.extend(wtr.out)

    _dc_scan(0, 1)
    _dc_scan(1, 0)

    for cid, _d, acodes, const in plan:
        # non-interleaved grids: luma full, chroma halved at 4:2:0
        cby, cbx = (by, bx) if cid == 1 else (
            (by // 2, bx // 2) if subsample else (by, bx)
        )
        # AC first (Al=1): the single coefficient at zigzag 14
        _sos([(cid, 0x00 if cid == 1 else 0x01)], 1, 63, 0, 1)
        wtr = _BitWriter()
        rst = 0
        for m, (i, j) in enumerate(
            (i, j) for i in range(cby) for j in range(cbx)
        ):
            if restart_interval and m and m % restart_interval == 0:
                wtr.align()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
            a = 0 if const is not None or cid != 1 else int(ac14[i, j])
            a1 = (abs(a) >> 1) * (1 if a >= 0 else -1)
            if a1:
                _write_coef(wtr, acodes, 13, a1)  # 13 zeros, coef at 14
            _write_coef(wtr, acodes, 0, 0)  # EOB (run 1)
        wtr.align()
        out.extend(wtr.out)

        # AC refinement (Ah=1, Al=0)
        _sos([(cid, 0x00 if cid == 1 else 0x01)], 1, 63, 1, 0)
        wtr = _BitWriter()
        rst = 0
        for m, (i, j) in enumerate(
            (i, j) for i in range(cby) for j in range(cbx)
        ):
            if restart_interval and m and m % restart_interval == 0:
                wtr.align()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
            a = 0 if const is not None or cid != 1 else int(ac14[i, j])
            aval = abs(a)
            if aval == 1:
                # newly nonzero: 13 zero-history run, size 1, sign bit
                code, length = acodes[(13 << 4) | 1]
                wtr.write(code, length)
                wtr.write(1 if a > 0 else 0, 1)
                _write_coef(wtr, acodes, 0, 0)  # EOB for the tail
            elif aval >= 2:
                # history coefficient only: EOB, then its correction bit
                _write_coef(wtr, acodes, 0, 0)
                wtr.write(aval & 1, 1)
            else:
                _write_coef(wtr, acodes, 0, 0)
        wtr.align()
        out.extend(wtr.out)
    return out


def encode_jpeg_blocks(
    dc: "np.ndarray",
    ac14: "np.ndarray | None" = None,
    quant: int = 8,
    color: _ty.Optional[_ty.Tuple[int, int]] = None,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Synthesize a spec-valid baseline JFIF stream whose decode is an
    EXACT integer function of the inputs (module docstring): luma block
    (i, j) holds quantized DC ``dc[i, j]`` and (optionally) quantized
    F(v=0, u=4) ``ac14[i, j]`` — decoded luma pixel (y, x) of that
    block is ``dc*quant/8 + sign4(x)*ac14*quant/8 + 128`` with
    ``sign4 = (+,-,-,+,+,-,-,+)``, exact when ``quant`` is a multiple
    of 8. ``color=(cb, cr)`` adds constant chroma planes (4:4:4, or
    2x2-subsampled luma when ``subsample`` — dc dims must then be
    even). ``restart_interval`` inserts DRI/RSTn every n MCUs.

    ``progressive=True`` (r9) emits the SAME coefficients as an SOF2
    stream with the canonical four-scan successive-approximation
    script — DC first at Al=1 (interleaved), DC refinement (the low
    bit), per-component AC first at Al=1, per-component AC refinement
    at Al=0 — so every progressive scan type (including newly-nonzero
    vs correction-bit refinement paths, exercised by |ac14| == 1 vs
    >= 2) decodes to EXACTLY the sequential pixels."""
    dc = np.asarray(dc, dtype=np.int64)
    by, bx = dc.shape
    if ac14 is None:
        ac14 = np.zeros_like(dc)
    ac14 = np.asarray(ac14, dtype=np.int64)
    if subsample and (by % 2 or bx % 2):
        raise ValueError("subsample=True needs even block dims")
    h, w = by * 8, bx * 8

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00"
    out += (1).to_bytes(2, "big") + (1).to_bytes(2, "big") + b"\x00\x00"
    # DQT: one flat table, id 0
    zz = bytes([quant] * 64)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz
    # SOF0 (baseline) / SOF2 (progressive)
    comps = 1 if color is None else 3
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(comps)
    luma_samp = 0x22 if (color is not None and subsample) else 0x11
    sof += bytes([1, luma_samp, 0])
    if color is not None:
        sof += bytes([2, 0x11, 0, 3, 0x11, 0])
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    out += sof_marker + (2 + len(sof)).to_bytes(2, "big") + sof
    # DHT: Annex K tables
    for cls, tid, (bits, vals) in (
        (0, 0, K3_DC_LUMA), (1, 0, K3_AC_LUMA),
        (0, 1, K3_DC_CHROMA), (1, 1, K3_AC_CHROMA),
    ):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")

    if progressive:
        return bytes(
            out
            + _encode_progressive_scans(
                dc, ac14, color, restart_interval, quant,
                subsample=(color is not None and subsample),
            )
            + b"\xff\xd9"
        )

    # SOS (sequential: the one interleaved full scan)
    sos = bytearray([comps, 1, 0x00])
    if color is not None:
        sos += bytes([2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos

    dc_l = _huff_codes(*K3_DC_LUMA)
    ac_l = _huff_codes(*K3_AC_LUMA)
    dc_c = _huff_codes(*K3_DC_CHROMA)
    ac_c = _huff_codes(*K3_AC_CHROMA)
    cbq = crq = 0
    if color is not None:
        # flat quant: constant chroma plane value v needs quantized DC
        # (v - 128) * 8 / quant; exact when quant divides (v-128)*8
        cbq = (color[0] - 128) * 8 // quant
        crq = (color[1] - 128) * 8 // quant
        if cbq * quant != (color[0] - 128) * 8 or crq * quant != (
            color[1] - 128
        ) * 8:
            raise ValueError("chroma values not exactly representable")

    wtr = _BitWriter()
    preds = {"y": 0, "cb": 0, "cr": 0}
    rst = 0
    mcu = 0

    def luma_block(i: int, j: int) -> None:
        d = int(dc[i, j])
        _write_coef(wtr, dc_l, 0, d - preds["y"])
        preds["y"] = d
        a = int(ac14[i, j])
        if a:
            _write_coef(wtr, ac_l, 13, a)  # 13 zeros, coef at zigzag 14
        _write_coef(wtr, ac_l, 0, 0)  # EOB (valid after index 14 too)

    def chroma_block(key: str, dcv: int, codes_dc, codes_ac) -> None:
        _write_coef(wtr, codes_dc, 0, dcv - preds[key])
        preds[key] = dcv
        _write_coef(wtr, codes_ac, 0, 0)

    mcuy = by // 2 if (color is not None and subsample) else by
    mcux = bx // 2 if (color is not None and subsample) else bx
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.align()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = {"y": 0, "cb": 0, "cr": 0}
            if color is not None and subsample:
                for sy in range(2):
                    for sx in range(2):
                        luma_block(my * 2 + sy, mx * 2 + sx)
            else:
                luma_block(my, mx)
            if color is not None:
                chroma_block("cb", cbq, dc_c, ac_c)
                chroma_block("cr", crq, dc_c, ac_c)
            mcu += 1
    wtr.align()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


#: the exact per-pixel sign pattern of the F(0, 4) basis along x —
#: cos((2x+1) * 4pi/16) = +-1/sqrt(2), cancelling C(0)'s 1/sqrt(2)
SIGN4: _ty.Tuple[int, ...] = (1, -1, -1, 1, 1, -1, -1, 1)


def expected_blocks(
    dc: "np.ndarray", ac14: "np.ndarray", quant: int = 8
) -> np.ndarray:
    """The decoder-independent EXPECTED luma plane for
    `encode_jpeg_blocks` streams — pure integer arithmetic, the same
    formula the q152 SQL oracle replays."""
    dc = np.asarray(dc, dtype=np.int64)
    ac14 = np.asarray(ac14, dtype=np.int64)
    by, bx = dc.shape
    out = np.zeros((by * 8, bx * 8), dtype=np.int64)
    s4 = np.array(SIGN4, dtype=np.int64)
    for i in range(by):
        for j in range(bx):
            c = dc[i, j] * quant // 8 + 128
            b = ac14[i, j] * quant // 8
            out[i * 8 : i * 8 + 8, j * 8 : j * 8 + 8] = c + s4[None, :] * b
    return np.clip(out, 0, 255)
