"""JPEG (ITU-T T.81) codec — stdlib + numpy.

Closes the multimodal dispatch seam's last NotImplementedError for
images: `image/jpeg` payloads decode for real. Scope: the one stream
shape the `media_features` entry writes and reads — baseline
sequential (SOF0), 8-bit, grayscale or YCbCr with every sampling
factor 1x1 (4:4:4), no restart interval. Anything else that arrives
as bytes is refused, not guessed at: other SOF types (progressive
SOF2 among them), a component sampling byte other than 0x11 (4:2:0,
4:2:2, ...) and a DRI segment raise NotImplementedError; a truncated
or corrupt stream (a scan before the frame header, a missing quant or
Huffman table, entropy data cut short) raises ValueError.

The encoder emits spec-valid JFIF any reader decodes: quant + Huffman
tables are EMBEDDED (DQT / DHT), so the canonical fixed-length Huffman
tables used here (DC: all 12 symbols at 4 bits; AC: all 162 symbols at
8 bits — both satisfy Kraft and the no-all-ones rule) are as valid as
Annex K's, and the decoder reads whatever tables the stream declares,
so it also accepts standard-table baseline 4:4:4 files.

Reference parity note: the reference crawler stores scraped images as
opaque bytes and never decodes; this codec exists for the task brief's
multimodal feature-extraction ops (multimodal.decode_and_featurize).
"""

from __future__ import annotations

import struct

import numpy as np


# -- 8x8 DCT-II/III via the orthonormal matrix ------------------------------
def _dct_matrix() -> np.ndarray:
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    d = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16)
    d[0] /= np.sqrt(2)
    return d


_D = _dct_matrix()
_DT = _D.T


def _zigzag() -> np.ndarray:
    """The spec's diagonal scan order, generated (no table to typo)."""
    order = sorted(((x + y, (y if (x + y) % 2 else x), x, y)
                    for y in range(8) for x in range(8)))
    return np.array([o[2] + 8 * o[3] for o in order], dtype=np.int64)


_ZZ = _zigzag()

# quantization tables (embedded in DQT, so exact Annex-K parity is not
# load-bearing; these are the familiar quality-50 tables)
_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)
_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# canonical fixed-length Huffman specs: (BITS[1..16], HUFFVAL)
_AC_SYMS = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                           for s in range(1, 11)]
_DC_SPEC = ([0, 0, 0, 12] + [0] * 12, list(range(12)))
_AC_SPEC = ([0] * 7 + [len(_AC_SYMS)] + [0] * 8, sorted(_AC_SYMS))


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the spec's canonical assignment."""
    out, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.n:
            self.write(0x7F, 7 - ((self.n - 1) % 8) + 1)  # pad with 1s
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, value-bits) per the spec's signed magnitude coding."""
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _encode_block_coef(wtr, qz, dc, ac, pred: int) -> int:
    """Huffman-code one zigzag-order quantized block (sequential
    DC-diff + AC run-length); returns the new DC predictor."""
    size, bits = _magnitude(int(qz[0]) - pred)
    c, ln = dc[size]
    wtr.write(c, ln)
    if size:
        wtr.write(bits, size)
    run = 0
    nz = np.nonzero(qz[1:])[0]
    last = nz[-1] + 1 if nz.size else 0
    for i in range(1, last + 1):
        v = int(qz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac[0xF0]
            wtr.write(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = ac[(run << 4) | size]
        wtr.write(c, ln)
        wtr.write(bits, size)
        run = 0
    if last < 63:
        c, ln = ac[0x00]
        wtr.write(c, ln)
    return int(qz[0])


def encode_jpeg(pixels: np.ndarray) -> bytes:
    """HxW (gray) or HxWx3 (RGB) uint8 -> baseline 4:4:4 JFIF bytes:
    color transform, edge-pad to whole 8x8 blocks, DCT, quantize, and
    one block per component per MCU."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    px = np.pad(pixels.astype(np.float64),
                ((0, -h % 8), (0, -w % 8)) + (() if gray else ((0, 0),)),
                mode="edge")
    if gray:
        planes = [px]
    else:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    ncomp = len(planes)
    dc = _canonical_codes(*_DC_SPEC)
    ac = _canonical_codes(*_AC_SPEC)
    wtr = _BitWriter()
    preds = [0] * ncomp
    for by in range(px.shape[0] // 8):
        for bx in range(px.shape[1] // 8):
            for ci, plane in enumerate(planes):
                blk = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                qz = np.round((_D @ blk @ _DT) / (_QL if ci == 0 else _QC)
                              ).astype(np.int64).ravel()[_ZZ]
                preds[ci] = _encode_block_coef(wtr, qz, dc, ac, preds[ci])
    out = [b"\xFF\xD8",
           _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")]
    out.append(_seg(0xFFDB, b"\x00" + bytes(_QL.ravel()[_ZZ].astype(np.uint8))))
    if not gray:
        out.append(_seg(0xFFDB, b"\x01" + bytes(_QC.ravel()[_ZZ].astype(np.uint8))))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out.append(_seg(0xFFC0, sof))
    for tc_th, (bits, vals) in ((0x00, _DC_SPEC), (0x10, _AC_SPEC)):
        out.append(_seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals)))
    if not gray:
        for tc_th, (bits, vals) in ((0x01, _DC_SPEC), (0x11, _AC_SPEC)):
            out.append(_seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals)))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3F\x00"
    out.append(_seg(0xFFDA, sos))
    out.append(wtr.flush())
    out.append(b"\xFF\xD9")
    return b"".join(out)


# -- decoder ----------------------------------------------------------------
class _BitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.d[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.d[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    # a marker mid-symbol = the stream is truncated or
                    # the decoder lost alignment
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} in entropy data")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decoder(bits: list[int], vals: list[int]):
    """(code,len)->symbol map + max length, for bit-serial decode."""
    table = {}
    code, i = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _read_symbol(r: _BitReader, table) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | r.bit()
        ln += 1
        s = table.get((ln, code))
        if s is not None:
            return s
    raise ValueError("bad Huffman stream")


def _extend(bits: int, size: int) -> int:
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0) 4:4:4 or grayscale JFIF -> HxW (gray) or HxWx3
    (RGB) uint8."""
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated/corrupt JPEG: {e}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[int, dict] = {}
    comps = None
    h = w = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                # kept in zigzag order, the order the DQT body stores
                qt[tq] = np.frombuffer(body[p + 1:p + 65],
                                       dtype=np.uint8).astype(np.int64)
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(body):
                tc_th = body[p]
                bits = list(body[p + 1:p + 17])
                nv = sum(bits)
                vals = list(body[p + 17:p + 17 + nv])
                huff[tc_th] = _huff_decoder(bits, vals)
                p += 17 + nv
        elif marker == 0xC0:
            _, h, w, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                if samp != 0x11:
                    raise NotImplementedError(
                        f"sampling factors {samp >> 4}x{samp & 0xF} "
                        "(only 4:4:4 / grayscale)")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF 0xFF{marker:02X}: only baseline (SOF0)")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals (DRI)")
        elif marker == 0xDA:
            return _decode_scan(data[pos:], body, comps, qt, huff, h, w)
    raise ValueError("no scan found")


def _decode_scan(entropy: bytes, body: bytes, comps, qt, huff,
                 h: int, w: int) -> np.ndarray:
    """Decode the one interleaved baseline scan (one block per
    component per MCU), crop to h x w and color-convert."""
    if comps is None:
        raise ValueError("corrupt JPEG: scan before frame header")
    ns = body[0]
    scan = {body[1 + 2 * i]: (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF)
            for i in range(ns)}
    tables = []
    for cid, tq in comps:
        if cid not in scan:
            raise ValueError(
                f"corrupt JPEG: component {cid} missing from the scan")
        td, ta = scan[cid]
        if td not in huff or 0x10 | ta not in huff:
            raise ValueError("corrupt JPEG: missing Huffman table")
        if tq not in qt:
            raise ValueError("corrupt JPEG: missing quantization table")
        tables.append((huff[td], huff[0x10 | ta], qt[tq]))
    r = _BitReader(entropy)
    mx_n, my_n = -(-w // 8), -(-h // 8)
    planes = [np.zeros((my_n * 8, mx_n * 8)) for _ in comps]
    preds = [0] * len(comps)
    for my in range(my_n):
        for mx in range(mx_n):
            for ci, (dct, act, q) in enumerate(tables):
                qz = np.zeros(64, dtype=np.int64)
                size = _read_symbol(r, dct)
                preds[ci] += _extend(r.bits(size), size) if size else 0
                qz[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = _read_symbol(r, act)
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    run, size = rs >> 4, rs & 0xF
                    k += run
                    qz[k] = _extend(r.bits(size), size)
                    k += 1
                coef = np.zeros(64)
                coef[_ZZ] = qz * q
                planes[ci][my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = (
                    _DT @ coef.reshape(8, 8) @ _D + 128.0)
    if len(comps) == 1:
        return np.clip(planes[0][:h, :w].round(), 0, 255).astype(np.uint8)
    y, cb, cr = (p[:h, :w] for p in planes)
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r_, g_, b_], axis=-1)
    return np.clip(rgb.round(), 0, 255).astype(np.uint8)
