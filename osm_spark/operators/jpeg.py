"""Baseline JPEG codec — numpy-only, no PIL/libjpeg.

Common-Crawl media is mostly JPEG; the engine's numpy-only decode stack
(multimodal.py: BMP, netpbm, PNG) previously stopped there and raised
without PIL.  This module closes that gap:

- ``decode_jpeg_gray``: baseline sequential DCT decoder (SOF0, 8-bit,
  1- or 3-component YCbCr, sampling factors 1-2, restart intervals,
  quant/Huffman tables read from the stream).  Returns the luminance
  plane — the same gray the other decoders produce (JFIF Y carries
  exactly the 299/587/114 weighting).  Chroma blocks are entropy-walked
  (the interleaved stream requires it) but skip dequant/IDCT.
- ``encode_baseline``: the deterministic fixture/test twin — grayscale
  or YCbCr 4:2:0/4:4:4 baseline JPEGs with the ITU T.81 Annex K example
  tables.  Lets tests prove the decoder against known pixels without
  any external image library (round-trip error is bounded by the
  quantization tables).

Performance shape: the entropy scan is an irreducibly sequential
per-symbol loop (Huffman + DC prediction), kept allocation-free over a
python-int bit buffer; everything block-shaped (dequant, IDCT, level
shift, plane assembly) is batched numpy over ALL blocks at once
(einsum with the orthonormal DCT-II matrix).  Inside Spark this runs
per executor task via mapInPandas (multimodal.decode_and_resize), so
throughput scales with cores — same shape as the PNG path.

Reference parity note: the reference engine has no image decoding; this
belongs to the training-data-pipeline surface (multimodal columns) the
graft adds on top (SURVEY.md §6 / round-4 verdict item 8).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU T.81 Annex K — public example tables)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], np.int32)

QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], np.int32).reshape(8, 8)

QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], np.int32).reshape(8, 8)

# (bits-per-length[1..16], symbol values) — canonical Huffman specs
HUFF_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
HUFF_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])


def _dct_mat() -> np.ndarray:
    """Orthonormal DCT-II matrix C: coef = C @ block @ C.T,
    block = C.T @ coef @ C."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    c[0] /= np.sqrt(2)
    return c


_C = _dct_mat()


def quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base quant table (public formula)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (qt * s + 50) // 100
    return np.clip(out, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# canonical Huffman construction (shared by encoder and decoder)


def _canonical_codes(bits, values):
    """(length, code) per symbol value, canonical order."""
    codes = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[idx]] = (length, code)
            code += 1
            idx += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Canonical decoder: mincode/maxcode/valptr per length (T.81 F.16)."""

    def __init__(self, bits, values):
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        idx = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = idx
                self.mincode[length] = code
                code += n
                idx += n
                self.maxcode[length] = code - 1
            code <<= 1


# ---------------------------------------------------------------------------
# encoder


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:              # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1s


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(w: _BitWriter, q: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Huffman-encode one zigzagged quantized block; returns new DC."""
    dc = int(q[0])
    diff = dc - pred
    cat = _category(diff)
    ln, code = dc_codes[cat]
    w.put(code, ln)
    if cat:
        bits = diff if diff > 0 else diff + (1 << cat) - 1
        w.put(bits, cat)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if q[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(q[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            ln, code = ac_codes[0xF0]     # ZRL
            w.put(code, ln)
            run -= 16
        cat = _category(v)
        ln, code = ac_codes[(run << 4) | cat]
        w.put(code, ln)
        bits = v if v > 0 else v + (1 << cat) - 1
        w.put(bits, cat)
        run = 0
    if last_nz < 63:
        ln, code = ac_codes[0x00]         # EOB
        w.put(code, ln)
    return dc


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _fdct_quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """All 8x8 blocks of a padded plane -> zigzagged quantized int32
    array (n_by, n_bx, 64), batched einsum."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3) \
        .astype(np.float64) - 128.0
    coef = np.einsum("ij,abjk,lk->abil", _C, blocks, _C)
    q = np.round(coef / qt).astype(np.int32)
    return q.reshape(h // 8, w // 8, 64)[:, :, ZIGZAG]


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
        + payload


def _dqt_payload(tid: int, qt: np.ndarray) -> bytes:
    return bytes([tid]) + bytes(int(x) for x in qt.reshape(-1)[ZIGZAG])


def _dht_payload(cls_id: int, spec) -> bytes:
    bits, values = spec
    return bytes([cls_id]) + bytes(bits) + bytes(values)


def encode_baseline(img: np.ndarray, quality: int = 75,
                    subsample: bool = True, dri: int = 0) -> bytes:
    """Deterministic baseline JPEG: (h, w) uint8 -> grayscale JFIF;
    (h, w, 3) uint8 RGB -> YCbCr, 4:2:0 when ``subsample`` else 4:4:4.
    ``dri`` > 0 emits a DRI segment and an RSTn marker (byte-aligned,
    predictors reset) after every ``dri`` MCUs — the restart-interval
    layout real crawl JPEGs use."""
    if not 0 <= dri <= 0xFFFF:  # DRI carries a 16-bit interval
        raise ValueError(f"JPEG: restart interval {dri} outside 0..65535")
    img = np.asarray(img, np.uint8)
    color = img.ndim == 3
    qt_y = quality_scale(QT_LUMA, quality)
    qt_c = quality_scale(QT_CHROMA, quality)

    if color:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            ypl = _pad_edge(np.round(y).clip(0, 255).astype(np.uint8), 16)
            ph, pw = ypl.shape
            cb = _pad_edge(np.round(cb).clip(0, 255).astype(np.uint8), 16)
            cr = _pad_edge(np.round(cr).clip(0, 255).astype(np.uint8), 16)
            cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
            cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
            cpl = [np.round(cb).clip(0, 255).astype(np.uint8),
                   np.round(cr).clip(0, 255).astype(np.uint8)]
            hv = [(2, 2), (1, 1), (1, 1)]
        else:
            ypl = _pad_edge(np.round(y).clip(0, 255).astype(np.uint8), 8)
            cpl = [_pad_edge(np.round(c).clip(0, 255).astype(np.uint8), 8)
                   for c in (cb, cr)]
            hv = [(1, 1), (1, 1), (1, 1)]
        planes = [ypl] + cpl
        qts = [qt_y, qt_c, qt_c]
        qids = [0, 1, 1]
        hids = [0, 1, 1]
    else:
        planes = [_pad_edge(img, 8)]
        hv = [(1, 1)]
        qts = [qt_y]
        qids = [0]
        hids = [0]

    zz = [_fdct_quant(p, qt) for p, qt in zip(planes, qts)]

    dc_codes = [_canonical_codes(*HUFF_DC_LUMA),
                _canonical_codes(*HUFF_DC_CHROMA)]
    ac_codes = [_canonical_codes(*HUFF_AC_LUMA),
                _canonical_codes(*HUFF_AC_CHROMA)]

    w = _BitWriter()
    hmax = max(h for h, _ in hv)
    vmax = max(v for _, v in hv)
    mcu_x = planes[0].shape[1] // (8 * hv[0][0])
    mcu_y = planes[0].shape[0] // (8 * hv[0][1])
    preds = [0] * len(planes)
    rst = 0
    n_mcu = mcu_x * mcu_y
    for mi in range(n_mcu):
        if dri and mi and mi % dri == 0:
            # restart: pad to a byte boundary, emit RSTn (markers are
            # raw — never FF00-stuffed), reset the DC predictors
            w.flush()
            w.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            preds = [0] * len(planes)
        my, mx = divmod(mi, mcu_x)
        for ci, (hh, vv) in enumerate(hv):
            for by in range(vv):
                for bx in range(hh):
                    blk = zz[ci][my * vv + by, mx * hh + bx]
                    preds[ci] = _encode_block(
                        w, blk, preds[ci],
                        dc_codes[hids[ci]], ac_codes[hids[ci]])
    w.flush()

    h0, w0 = img.shape[:2]
    out = bytearray(b"\xff\xd8")                        # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, _dqt_payload(0, qt_y))
    if color:
        out += _seg(0xDB, _dqt_payload(1, qt_c))
    sof = bytes([8]) + h0.to_bytes(2, "big") + w0.to_bytes(2, "big") \
        + bytes([len(planes)])
    for ci, (hh, vv) in enumerate(hv):
        sof += bytes([ci + 1, (hh << 4) | vv, qids[ci]])
    out += _seg(0xC0, sof)                              # SOF0 baseline
    out += _seg(0xC4, _dht_payload(0x00, HUFF_DC_LUMA))
    out += _seg(0xC4, _dht_payload(0x10, HUFF_AC_LUMA))
    if color:
        out += _seg(0xC4, _dht_payload(0x01, HUFF_DC_CHROMA))
        out += _seg(0xC4, _dht_payload(0x11, HUFF_AC_CHROMA))
    if dri:
        out += _seg(0xDD, int(dri).to_bytes(2, "big"))  # DRI
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, (hids[ci] << 4) | hids[ci]])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)                              # SOS
    out += w.out
    out += b"\xff\xd9"                                  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder


class _BitReader:
    """Entropy-segment bit reader: FF00 unstuffing, RST markers reset
    the buffer (caller resets DC predictors)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.truncated = False

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) | 0xFF  # spec: pad with 1s
                self.nbits += 8
                continue
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break                  # RST: stop at marker
                else:
                    break                  # EOI / next segment
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
            if not self.nbits:
                # _fill stopped at a marker (RST/EOI/next segment) while
                # the decoder still needs bits: truncated entropy
                # segment (partial downloads are ubiquitous in crawls).
                # Spec behaviour is to read the missing data as 1-bits,
                # same as the physical end-of-data pad above — the tail
                # MCUs come out as garbage but the decode completes
                # instead of dying on a negative shift.
                self.acc = 0xFF
                self.nbits = 8
                self.truncated = True
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_rst(self) -> None:
        """Consume the RST marker at the current byte boundary."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: missing restart marker")


def _huff_read(r: _BitReader, h: _HuffDecoder) -> int:
    code = r.bit()
    for length in range(1, 17):
        if h.maxcode[length] >= code:
            return h.values[h.valptr[length] + code - h.mincode[length]]
        code = (code << 1) | r.bit()
    raise ValueError("JPEG: bad Huffman code (truncated scan)"
                     if r.truncated else "JPEG: bad Huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg_gray(b: bytes) -> np.ndarray:
    """Baseline sequential JPEG -> luminance plane (h, w) uint8.

    Supports SOF0, 8-bit, 1-3 components, sampling factors 1-2,
    multiple DQT/DHT segments, DRI/RSTn.  Progressive (SOF2) and
    arithmetic coding raise ValueError."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffDecoder] = {}
    comps = None
    h0 = w0 = None
    dri = 0
    i = 2
    scan = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("JPEG: bad marker alignment")
        m = b[i + 1]
        if m == 0xD9:
            break
        ln = int.from_bytes(b[i + 2:i + 4], "big")
        seg = b[i + 4:i + 2 + ln]
        if m == 0xDB:
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0xF
                if prec:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                zz = np.frombuffer(seg[j + 1:j + 65], np.uint8)
                qt = np.zeros(64, np.int32)
                qt[ZIGZAG] = zz
                qts[tid] = qt.reshape(8, 8)
                j += 65
        elif m == 0xC4:
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                values = list(seg[j + 17:j + 17 + n])
                huff[(cls, tid)] = _HuffDecoder(bits, values)
                j += 17 + n
        elif m == 0xC0 or m == 0xC1:
            h0 = int.from_bytes(seg[1:3], "big")
            w0 = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hvb, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hvb >> 4, "v": hvb & 0xF,
                              "tq": tq})
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG: only baseline sequential (SOF0) "
                             "is supported")
        elif m == 0xDD:
            dri = int.from_bytes(seg[0:2], "big")
        elif m == 0xDA:
            ns = seg[0]
            tables = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c:3 + 2 * c]
                tables[cid] = (tt >> 4, tt & 0xF)
            scan = (tables, i + 2 + ln)
            break
        i += 2 + ln
    if comps is None or scan is None:
        raise ValueError("JPEG: missing SOF/SOS")
    tables, data_pos = scan

    # sampling factors are checked before they size the MCU grid: a 0
    # would divide by zero below
    if not comps or any(not (1 <= c["h"] <= 2 and 1 <= c["v"] <= 2)
                        for c in comps):
        raise ValueError("JPEG: sampling factors outside 1..2 unsupported")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_x = -(-w0 // (8 * hmax))
    mcu_y = -(-h0 // (8 * vmax))
    for c in comps:
        c["bw"] = mcu_x * c["h"]
        c["bh"] = mcu_y * c["v"]
        c["dc"], c["ac"] = tables[c["id"]]

    # luminance = first component; its blocks are stored for batch IDCT,
    # chroma blocks are entropy-walked and discarded
    luma = comps[0]
    yblocks = np.zeros((luma["bh"] * luma["bw"], 64), np.int32)

    r = _BitReader(b, data_pos)
    preds = [0] * len(comps)
    n_mcu = mcu_x * mcu_y
    for mi in range(n_mcu):
        if dri and mi and mi % dri == 0:
            r.sync_rst()
            preds = [0] * len(comps)
        my, mx = divmod(mi, mcu_x)
        for ci, c in enumerate(comps):
            hdec_dc = huff[(0, c["dc"])]
            hdec_ac = huff[(1, c["ac"])]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    t = _huff_read(r, hdec_dc)
                    diff = _extend(r.bits(t), t) if t else 0
                    preds[ci] += diff
                    if ci == 0:
                        blk = yblocks[(my * c["v"] + by) * c["bw"]
                                      + mx * c["h"] + bx]
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_read(r, hdec_ac)
                            if rs == 0x00:
                                break
                            if rs == 0xF0:
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            cat = rs & 0xF
                            if cat == 0:
                                # T.81 F.1.2.2: SSSS=0 is only legal in
                                # EOB (0x00) / ZRL (0xF0), both handled
                                # above — anything else is a corrupt scan
                                raise ValueError("JPEG: bad AC symbol")
                            blk[k] = _extend(r.bits(cat), cat)
                            k += 1
                    else:
                        k = 1
                        while k < 64:
                            rs = _huff_read(r, hdec_ac)
                            if rs == 0x00:
                                break
                            if rs == 0xF0:
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            if rs & 0xF == 0:
                                raise ValueError("JPEG: bad AC symbol")
                            r.bits(rs & 0xF)
                            k += 1

    qt = qts[luma["tq"]]
    nat = np.zeros((len(yblocks), 64), np.int32)
    nat[:, ZIGZAG] = yblocks
    deq = nat.reshape(-1, 8, 8) * qt
    pix = np.einsum("ji,ajk,kl->ail", _C, deq, _C) + 128.0
    pix = np.clip(np.round(pix), 0, 255).astype(np.uint8)
    plane = pix.reshape(luma["bh"], luma["bw"], 8, 8) \
        .transpose(0, 2, 1, 3).reshape(luma["bh"] * 8, luma["bw"] * 8)
    # luma plane covers ceil(h0 * v/vmax) etc.; crop to the component's
    # true extent then replicate to image size if subsampled (h==hmax
    # for component 0 in every practical file)
    ch = -(-h0 * luma["v"] // vmax)
    cw = -(-w0 * luma["h"] // hmax)
    plane = plane[:ch, :cw]
    if luma["v"] != vmax or luma["h"] != hmax:
        plane = np.repeat(np.repeat(plane, vmax // luma["v"], 0),
                          hmax // luma["h"], 1)
    return plane[:h0, :w0].copy()
