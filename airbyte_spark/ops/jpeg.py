"""Baseline JPEG (ITU-T T.81 + JFIF) codec in pure numpy/stdlib — the
lossy-DCT format behind the last ``decode_image`` production hook, now
decoded for real.

Scope (the ubiquitous baseline profile):

* **Decoder**: baseline sequential DCT (SOF0), 8-bit samples, 1 or 3
  components, any sampling factors h,v ∈ {1,2} (covers 4:4:4, 4:2:2,
  4:2:0 and grayscale), multiple DQT/DHT tables per segment, restart
  intervals (DRI + RSTn with DC-predictor reset), 0xFF00 byte
  unstuffing, APPn/COM skip. Progressive (SOF2) and arithmetic coding
  raise ``ValueError`` explicitly.
* **Encoder**: the matching writer — Annex K quantization tables with
  IJG quality scaling, Annex K standard Huffman tables, 4:4:4 or 4:2:0
  subsampling, optional restart intervals, grayscale or RGB input. Used
  by the deterministic media synthesizer so the decoder is exercised by
  payloads a stock ``libjpeg`` would also parse.

Everything here derives from the public spec (T.81 §A/F, Annex K
tables; JFIF 1.02 for the APP0 header and YCbCr matrix). The DCT is the
orthonormal 8×8 DCT-II as two matrix products — numpy-vectorized per
block batch; the entropy coder is per-symbol Python, fine for the
payload sizes the multimodal stages batch through Arrow (and the honest
cost of a format whose bitstream is inherently sequential).

Like the rest of ``ops.codecs``, round-trip exactness is NOT the
contract (JPEG is lossy); the tests bound reconstruction error on
smooth content and assert exact geometry (dims, MCU layout, restart
boundaries), which is what the oracle checks end-to-end.
"""

from __future__ import annotations

import struct

import numpy as np

#: decode size limits checked right after SOF: libjpeg's JPEG_MAX_DIMENSION
#: per side, and a total-pixel bound (~67 MP, well above 8K video frames)
#: that keeps the float64 planes and the per-MCU loop bounded
MAX_JPEG_SIDE = 65500
MAX_JPEG_PIXELS = 1 << 26

# --------------------------------------------------------------- tables

#: zigzag scan order: ZIGZAG[k] = natural (row-major) index of the k-th
#: zigzag-ordered coefficient (T.81 Figure 5)
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

#: Annex K.1 luminance / K.2 chrominance quantization tables (natural order)
Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: Annex K.3 standard Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
        0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
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
        0xF9, 0xFA,
    ],
)

#: orthonormal 8×8 DCT-II matrix: dct2(B) = D @ B @ D.T
_k = np.arange(8)
_DCT_M = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) / 2.0
_DCT_M[0] /= np.sqrt(2)
del _k


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (1..100)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (Q_LUMA, Q_CHROMA):
        q = (base * s + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int64))
    return out[0], out[1]


def _build_codes(bits, vals) -> dict:
    """Canonical Huffman assignment (T.81 §C.2): symbol → (code, length)."""
    code, k, out = 0, 0, {}
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


# ------------------------------------------------------------ bit I/O


class _BitWriter:
    """MSB-first bit accumulator with 0xFF→0xFF00 byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self._cur = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._cur = (self._cur << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.buf.append(self._cur)
                if self._cur == 0xFF:
                    self.buf.append(0x00)
                self._cur = 0
                self._n = 0

    def flush(self) -> None:
        """Pad the trailing partial byte with 1-bits (T.81 §F.1.2.3)."""
        while self._n:
            self.write(1, 1)


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment; unstuffs
    0xFF00 and refuses to run past a marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._cur = 0
        self._n = 0

    def _next_byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} in entropy stream"
                )
        return b

    def read_bit(self) -> int:
        if self._n == 0:
            self._cur = self._next_byte()
            self._n = 8
        self._n -= 1
        return (self._cur >> self._n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        """Walk code bits until a (length, code) pair hits the table."""
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def align_expect_rst(self, m: int) -> None:
        """Discard pad bits and consume the expected RSTm marker."""
        self._cur = 0
        self._n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (m & 7)
        ):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


def _unpack(fmt: str, data, off: int):
    """struct.unpack_from that reports malformed/truncated headers as
    ValueError (the module's one corrupt-input exception type) instead
    of leaking struct.error to the mapInPandas worker."""
    try:
        return struct.unpack_from(fmt, data, off)
    except struct.error as e:
        raise ValueError(f"JPEG header truncated/malformed: {e}") from None


def _extend(v: int, size: int) -> int:
    """T.81 §F.2.1.1 EXTEND: map a ``size``-bit amplitude to its signed
    value (negative when the leading bit is 0)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _csize(v: int) -> int:
    """Amplitude category (bit size) of a signed coefficient."""
    return abs(v).bit_length()


# -------------------------------------------------------------- encoder


def _rgb_to_ycbcr(rgb: np.ndarray) -> list[np.ndarray]:
    f = rgb.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return [y, cb, cr]


def _pad_edge(plane: np.ndarray, h: int, w: int) -> np.ndarray:
    return np.pad(
        plane, ((0, h - plane.shape[0]), (0, w - plane.shape[1])), mode="edge"
    )


def _block_dct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H/8 · W/8, 64) zigzag-ordered quantized coefficients for a padded
    plane — DCT as two batched matmuls, one vectorized divide."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        - 128.0
    )
    coefs = _DCT_M @ blocks @ _DCT_M.T
    qn = q.reshape(8, 8).astype(np.float64)
    quant = np.round(coefs / qn).astype(np.int64)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _encode_block(
    wr: _BitWriter, zz: np.ndarray, dc_codes: dict, ac_codes: dict, pred: int
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = _csize(diff)
    code, ln = dc_codes[s]
    wr.write(code, ln)
    if s:
        wr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            wr.write(code, ln)
            run -= 16
        s = _csize(v)
        code, ln = ac_codes[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        wr.write(code, ln)
    return dc


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">HH", tag, len(payload) + 2) + payload


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encode of an (h, w, 3) uint8 RGB array (or (h, w)
    grayscale). ``subsample``: '444' (no chroma subsampling) or '420'
    (2×2 luma sampling, the common camera default). ``restart_interval``
    > 0 emits DRI + RSTn markers every that many MCUs."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects (h, w[, 3]) uint8")
    gray = img.ndim == 2
    if not gray and img.shape[2] != 3:
        raise ValueError("encode_jpeg expects 3 channels for color input")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q_luma, q_chroma = _quality_tables(quality)

    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(img)
        if subsample == "420":
            # edge-pad to even dims, then 2×2 box-average the chroma
            eh, ew = (h + 1) & ~1, (w + 1) & ~1
            cb, cr = (_pad_edge(p, eh, ew) for p in (cb, cr))
            cb = (cb[0::2, 0::2] + cb[0::2, 1::2] + cb[1::2, 0::2] + cb[1::2, 1::2]) / 4.0
            cr = (cr[0::2, 0::2] + cr[0::2, 1::2] + cr[1::2, 0::2] + cr[1::2, 1::2]) / 4.0
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qtabs = (q_luma, q_chroma)

    # per-component zigzag coefficient grids, indexed by block row/col
    comp_zz = []
    for plane, (sh, sv), qs in zip(planes, samp, qsel):
        ph, pw = mcuy * 8 * sv, mcux * 8 * sh
        padded = _pad_edge(plane, ph, pw)
        zz = _block_dct_quant(padded, qtabs[qs])
        comp_zz.append(zz.reshape(ph // 8, pw // 8, 64))

    # ---- headers
    out = [b"\xff\xd8"]  # SOI
    out.append(
        _marker(
            0xFFE0,
            b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0),
        )
    )
    ntab = 1 if gray else 2
    for tq in range(ntab):
        out.append(
            _marker(
                0xFFDB,
                bytes([tq]) + bytes(int(qtabs[tq][i]) for i in ZIGZAG),
            )
        )
    sof = [struct.pack(">BHHB", 8, h, w, len(planes))]
    for ci, ((sh, sv), qs) in enumerate(zip(samp, qsel)):
        sof.append(struct.pack(">BBB", ci + 1, (sh << 4) | sv, qs))
    out.append(_marker(0xFFC0, b"".join(sof)))
    huffs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if not gray:
        huffs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc_th, (bits, vals) in huffs:
        out.append(_marker(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals)))
    if restart_interval:
        out.append(_marker(0xFFDD, struct.pack(">H", restart_interval)))
    sos = [bytes([len(planes)])]
    for ci in range(len(planes)):
        td_ta = 0x00 if ci == 0 else 0x11
        sos.append(struct.pack(">BB", ci + 1, td_ta))
    sos.append(struct.pack(">BBB", 0, 63, 0))
    out.append(_marker(0xFFDA, b"".join(sos)))

    # ---- entropy-coded scan
    dc_luma, ac_luma = _build_codes(*_DC_LUMA), _build_codes(*_AC_LUMA)
    dc_chroma, ac_chroma = _build_codes(*_DC_CHROMA), _build_codes(*_AC_CHROMA)
    enc_tabs = [
        (dc_luma, ac_luma) if qs == 0 else (dc_chroma, ac_chroma)
        for qs in qsel
    ]
    preds = [0] * len(planes)
    wr = _BitWriter()
    rst = 0
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                wr.flush()
                wr.buf += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * len(planes)
            for ci, ((sh, sv), (dct, act)) in enumerate(zip(samp, enc_tabs)):
                for by in range(sv):
                    for bx in range(sh):
                        zz = comp_zz[ci][my * sv + by, mx * sh + bx]
                        preds[ci] = _encode_block(wr, zz, dct, act, preds[ci])
            n_mcu += 1
    wr.flush()
    out.append(bytes(wr.buf))
    out.append(b"\xff\xd9")  # EOI
    return b"".join(out)


# -------------------------------------------------------------- decoder


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (h, w, 3) uint8 RGB ((h, w) stays 3-chan
    by replicating the gray plane — matching what the multimodal feature
    stage expects from ``decode_image``)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, [(comp_id, sh, sv, tq)])
    dri = 0
    while True:
        if pos + 2 > len(payload):
            raise ValueError("JPEG truncated before SOS")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            # the payload ended inside a fill-byte run (fuzz-found: the
            # skip loop can park pos on the final byte)
            raise ValueError("JPEG truncated before SOS")
        tag = payload[pos + 1]
        if tag == 0x01 or 0xD0 <= tag <= 0xD8:
            # standalone markers (TEM, stray RSTn, repeated SOI): no
            # length field — skip and keep walking
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("JPEG truncated before SOS")
        (seglen,) = _unpack(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + seglen]
        if len(data) != seglen - 2:
            raise ValueError("JPEG segment truncated")
        pos += 2 + seglen
        if tag == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(data):
                pq, tq = data[p] >> 4, data[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                zz = np.frombuffer(data, np.uint8, 64, p + 1).astype(np.int64)
                nat = np.zeros(64, np.int64)
                nat[ZIGZAG] = zz
                qtabs[tq] = nat
                p += 65
        elif tag == 0xC4:  # DHT (possibly several tables per segment)
            p = 0
            while p < len(data):
                tc, th = data[p] >> 4, data[p] & 15
                bits = list(data[p + 1 : p + 17])
                n = sum(bits)
                if len(bits) != 16 or p + 17 + n > len(data):
                    raise ValueError("malformed DHT segment")
                vals = list(data[p + 17 : p + 17 + n])
                codes = _build_codes(bits, vals)
                htabs[(tc, th)] = {
                    (ln, code): sym for sym, (code, ln) in codes.items()
                }
                p += 17 + n
        elif tag == 0xC0 or tag == 0xC1:  # SOF0/1 (baseline + ext. sequential)
            prec, h, w, nc = _unpack(">BHHB", data, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG samples supported")
            # a hostile header must fail here, not as a MemoryError when
            # the planes are allocated or after a multi-million-MCU loop
            if h > MAX_JPEG_SIDE or w > MAX_JPEG_SIDE or h * w > MAX_JPEG_PIXELS:
                raise ValueError(
                    f"JPEG frame {w}x{h} exceeds the decoder's size limit"
                )
            if nc not in (1, 3):
                raise ValueError(
                    f"{nc}-component JPEG (CMYK/Adobe?) unsupported — "
                    "1 (grayscale) or 3 (YCbCr) components only"
                )
            comps = []
            for i in range(nc):
                cid, hv, tq = _unpack(">BBB", data, 6 + 3 * i)
                sh, sv = hv >> 4, hv & 15
                if sh not in (1, 2) or sv not in (1, 2):
                    raise ValueError(
                        f"unsupported sampling factors {sh}x{sv}"
                    )
                comps.append((cid, sh, sv, tq))
            frame = (h, w, comps)
        elif tag in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline sequential JPEG (SOF0/SOF1) is supported"
            )
        elif tag == 0xDD:  # DRI
            (dri,) = _unpack(">H", data, 0)
        elif tag == 0xDA:  # SOS — entropy data follows
            break
        elif tag == 0xD9:
            raise ValueError("EOI before SOS")
        # else: APPn / COM / unknown — skipped via seglen
    if frame is None:
        raise ValueError("JPEG missing SOF0")
    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError("empty JPEG frame")
    if len(data) < 1 or len(data) < 1 + 2 * data[0] + 3:
        # empty/short SOS body passes the seglen check but would index
        # past the scan header (fuzz-found)
        raise ValueError("JPEG SOS header truncated")
    ns = data[0]
    if ns != len(comps):
        raise ValueError("SOS component count != SOF component count")
    scan_tabs = {}
    for i in range(ns):
        cs, td_ta = _unpack(">BB", data, 1 + 2 * i)
        scan_tabs[cs] = (td_ta >> 4, td_ta & 15)

    if len(comps) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved — the
        # MCU is one block rastered over the component's own block grid
        # and the declared sampling factors do not shape the data units.
        # Normalizing to (1,1) implements exactly that (a grayscale file
        # declaring 2x2 factors is legal and decodes like 1x1).
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    planes = []
    for cid, sh, sv, tq in comps:
        planes.append(np.zeros((mcuy * 8 * sv, mcux * 8 * sh), np.float64))
        if tq not in qtabs:
            raise ValueError(f"missing quantization table {tq}")
        if cid not in scan_tabs:
            raise ValueError(f"component {cid} absent from SOS")

    rd = _BitReader(payload, pos)
    preds = [0] * len(comps)
    rst = 0
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                rd.align_expect_rst(rst)
                rst += 1
                preds = [0] * len(comps)
            for ci, (cid, sh, sv, tq) in enumerate(comps):
                td, ta = scan_tabs[cid]
                dc_tab = htabs.get((0, td))
                ac_tab = htabs.get((1, ta))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("missing Huffman table for scan")
                q = qtabs[tq]
                for by in range(sv):
                    for bx in range(sh):
                        zz = np.zeros(64, np.int64)
                        s = rd.read_symbol(dc_tab)
                        if s > 15:
                            # a corrupted/crossed Huffman table can hand
                            # back an AC-style composite symbol here; a
                            # 250-bit receive() would overflow the int64
                            # coefficient store (fuzz-found)
                            raise ValueError("invalid DC size category")
                        diff = _extend(rd.receive(s), s)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = rd.read_symbol(ac_tab)
                            r, sz = rs >> 4, rs & 15
                            if sz == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(rd.receive(sz), sz)
                            k += 1
                        # de-zigzag FIRST, then dequantize in natural
                        # order — zz is zigzag-ordered but q is natural,
                        # so an elementwise zz*q would pair coefficient
                        # k with the wrong quantizer for every k where
                        # ZIGZAG[k] != k (caught by the independent T.81
                        # transcription test: vertical frequencies came
                        # back visibly wrong while the encoder/decoder
                        # round trip stayed deceptively plausible)
                        nat = np.zeros(64, np.float64)
                        nat[ZIGZAG] = zz.astype(np.float64)
                        nat *= q.astype(np.float64)
                        block = _DCT_M.T @ nat.reshape(8, 8) @ _DCT_M
                        y0, x0 = (my * sv + by) * 8, (mx * sh + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block + 128.0
            n_mcu += 1

    # upsample to full resolution and crop
    full = []
    for (cid, sh, sv, tq), plane in zip(comps, planes):
        up = plane.repeat(vmax // sv, axis=0).repeat(hmax // sh, axis=1)
        full.append(up[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=2)
    y, cb, cr = full
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
