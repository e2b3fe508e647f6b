"""Baseline JPEG codec (ops/jpeg.py): round-trip error bounds, exact
geometry, restart intervals, rejection of unsupported variants, and a
decode verified against an INDEPENDENT scalar transcription of the
T.81 spec procedures (F.2.2.3 DECODE with MINCODE/MAXCODE/VALPTR,
F.2.1.1 EXTEND, A.3.3 direct-sum IDCT) — guarding against a bug that is
symmetric in the numpy encoder and decoder surviving the round trip."""

import math
import struct

import numpy as np
import pytest

from airbyte_spark.ops import codecs as C
from airbyte_spark.ops import jpeg as J


def _gradient(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 3) % 256, (y * 5) % 200, ((x + y) * 2) % 180], axis=2
    ).astype(np.uint8)


def test_solid_color_exact():
    img = np.full((16, 16, 3), 130, np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(img, quality=90))
    assert np.abs(out.astype(int) - img.astype(int)).max() == 0


def test_gradient_roundtrip_bounded():
    img = _gradient(24, 17)
    for q, sub, bound in [(90, "444", 8), (95, "444", 8), (90, "420", 16)]:
        out = J.decode_jpeg(J.encode_jpeg(img, quality=q, subsample=sub))
        err = np.abs(out.astype(int) - img.astype(int))
        assert out.shape == img.shape
        assert err.max() <= bound, (q, sub, err.max())


def test_dims_exact_for_awkward_shapes():
    rng = np.random.default_rng(5)
    for h, w in [(1, 1), (7, 9), (8, 8), (9, 16), (17, 15)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for sub in ("444", "420"):
            out = J.decode_jpeg(J.encode_jpeg(img, quality=90, subsample=sub))
            assert out.shape == (h, w, 3), (h, w, sub)


def test_grayscale_roundtrip():
    g = ((np.mgrid[0:9, 0:14][0] * 9) % 256).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(g, quality=92))
    assert out.shape == (9, 14, 3)
    # gray replicates into all three channels
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 4


def test_restart_interval_bit_identical_reconstruction():
    """RSTn markers change the bitstream layout but not the decoded
    pixels (DC predictors reset at each boundary on both sides)."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (33, 41, 3), dtype=np.uint8)
    plain = J.decode_jpeg(J.encode_jpeg(img, quality=85))
    for dri in (1, 3, 7):
        rst = J.decode_jpeg(
            J.encode_jpeg(img, quality=85, restart_interval=dri)
        )
        assert np.array_equal(plain, rst), dri


def test_rejects_unsupported_variants():
    with pytest.raises(ValueError, match="not a JPEG"):
        J.decode_jpeg(b"BM" + b"\x00" * 32)
    # progressive (SOF2) is named, not mis-parsed
    sof2 = struct.pack(">BHHB", 8, 8, 8, 1) + struct.pack(">BBB", 1, 0x11, 0)
    payload = (
        b"\xff\xd8"
        + struct.pack(">HH", 0xFFC2, len(sof2) + 2)
        + sof2
    )
    with pytest.raises(ValueError, match="baseline"):
        J.decode_jpeg(payload)
    # truncated entropy stream
    good = J.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    with pytest.raises(ValueError):
        J.decode_jpeg(good[: len(good) // 2])
    with pytest.raises(ValueError, match="quality"):
        J.encode_jpeg(np.zeros((4, 4, 3), np.uint8), quality=0)
    with pytest.raises(ValueError, match="subsample"):
        J.encode_jpeg(np.zeros((4, 4, 3), np.uint8), subsample="422")


def test_single_component_scan_ignores_sampling_factors():
    """T.81 A.2.2: a single-component scan is non-interleaved, so a
    grayscale file DECLARING 2x2 sampling factors (spec-legal, libjpeg
    decodes it) must decode identically to the 1x1 declaration."""
    g = ((np.mgrid[0:24, 0:16][0] * 7) % 256).astype(np.uint8)
    payload = bytearray(J.encode_jpeg(g, quality=85))
    i = payload.index(b"\xff\xc0")
    # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1) hv(1)
    assert payload[i + 11] == 0x11
    payload[i + 11] = 0x22
    want = J.decode_jpeg(J.encode_jpeg(g, quality=85))
    got = J.decode_jpeg(bytes(payload))
    assert np.array_equal(want, got)


def test_fill_bytes_and_standalone_markers_tolerated():
    """T.81 B.1.1.2 allows 0xFF fill bytes before any marker; TEM is a
    standalone marker with no length field."""
    g = _gradient(8, 8)
    payload = J.encode_jpeg(g, quality=85)
    i = payload.index(b"\xff\xdb")
    padded = payload[:i] + b"\xff\xff\xff" + b"\xff\x01" + payload[i:]
    assert np.array_equal(J.decode_jpeg(payload), J.decode_jpeg(padded))


def test_four_component_frame_rejected_by_name():
    sof = struct.pack(">BHHB", 8, 8, 8, 4) + b"".join(
        struct.pack(">BBB", i + 1, 0x11, 0) for i in range(4)
    )
    payload = (
        b"\xff\xd8" + struct.pack(">HH", 0xFFC0, len(sof) + 2) + sof
    )
    with pytest.raises(ValueError, match="component"):
        J.decode_jpeg(payload)


def test_oversized_frame_rejected_before_allocation():
    """A header claiming 65535x65535 (~34 GB per float64 plane) fails with
    the size ValueError at SOF, not as a MemoryError at plane allocation;
    a frame under the per-side limit but over the pixel bound fails too."""
    for h, w in [(65535, 65535), (65500, 65500), (4096, 65500)]:
        sof = struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
        payload = (
            b"\xff\xd8" + struct.pack(">HH", 0xFFC0, len(sof) + 2) + sof
            + b"\xff\xda" + struct.pack(">HBBB", 8, 1, 1, 0) + b"\x00\x3f\x00"
        )
        with pytest.raises(ValueError, match="size limit"):
            J.decode_jpeg(payload)


def test_quality_monotonicity():
    """Higher quality ⇒ no-worse reconstruction on smooth content (the
    IJG scaling is implemented in the right direction)."""
    img = _gradient(16, 16)
    errs = []
    for q in (25, 50, 75, 95):
        out = J.decode_jpeg(J.encode_jpeg(img, quality=q))
        errs.append(np.abs(out.astype(int) - img.astype(int)).mean())
    assert errs == sorted(errs, reverse=True), errs


def test_corrupt_payload_fuzz_raises_only_valueerror():
    """Seeded mutation fuzz: truncations, bit flips and garbage tails
    must surface as ValueError — never struct.error / OverflowError /
    IndexError leaking out of a mapInPandas worker (both leak classes
    below were fuzz-found and fixed: header unpacks past a shortened
    segment, and a crossed Huffman table handing a 250-bit DC size)."""
    import random

    from util import mutate_payload

    g = (np.mgrid[0:12, 0:10][0] * 13 % 256).astype(np.uint8)
    base = J.encode_jpeg(np.stack([g, g, g], 2), quality=85)
    rng = random.Random(42)
    for trial in range(1200):
        try:
            J.decode_jpeg(mutate_payload(base, rng, trial))
        except ValueError:
            pass  # the one documented corrupt-input exception
    # review-found edge shapes outside the mutation vocabulary
    for crafted in (
        b"\xff\xd8\xff\xff",          # payload ends inside a fill-byte run
        b"\xff\xd8\xff\xda\x00\x02",  # empty SOS body
    ):
        with pytest.raises(ValueError):
            J.decode_jpeg(crafted)


# ------------------------------------------------------------------
# independent spec transcription (grayscale: isolates entropy decode +
# dequant + IDCT from upsampling/color conversion)


def _spec_decode_gray(payload):
    """Literal scalar transcription of T.81: marker walk, F.2.2.3
    DECODE via MINCODE/MAXCODE/VALPTR, F.2.1.1 EXTEND, A.3.3 direct-sum
    IDCT. Intentionally shares no code with ops/jpeg.py."""
    assert payload[:2] == b"\xff\xd8"
    pos = 2
    qt = {}
    huff = {}
    frame = None
    while True:
        tag = payload[pos + 1]
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if tag == 0xDB:
            p = 0
            while p < len(seg):
                qt[seg[p] & 15] = list(seg[p + 1 : p + 65])
                p += 65
        elif tag == 0xC4:
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                # C.2: generate huffsize/huffcode
                sizes = []
                for l in range(1, 17):
                    sizes += [l] * bits[l - 1]
                huffcode, code, si = [], 0, sizes[0] if sizes else 0
                for s in sizes:
                    while si < s:
                        code <<= 1
                        si += 1
                    huffcode.append(code)
                    code += 1
                mincode, maxcode, valptr = {}, {}, {}
                i = 0
                for l in range(1, 17):
                    if bits[l - 1] == 0:
                        maxcode[l] = -1
                        continue
                    valptr[l] = i
                    mincode[l] = huffcode[i]
                    i += bits[l - 1]
                    maxcode[l] = huffcode[i - 1]
                huff[(tc, th)] = (mincode, maxcode, valptr, vals)
                p += 17 + n
        elif tag == 0xC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            assert nc == 1, "transcription covers grayscale"
            cid, hv, tq = struct.unpack_from(">BBB", seg, 6)
            frame = (h, w, tq)
        elif tag == 0xDA:
            td_ta = seg[2]
            td, ta = td_ta >> 4, td_ta & 15
            break
    h, w, tq = frame

    state = {"pos": pos, "cur": 0, "n": 0}

    def nextbit():
        if state["n"] == 0:
            b = payload[state["pos"]]
            state["pos"] += 1
            if b == 0xFF:
                assert payload[state["pos"]] == 0x00
                state["pos"] += 1
            state["cur"], state["n"] = b, 8
        state["n"] -= 1
        return (state["cur"] >> state["n"]) & 1

    def decode(tc, th):  # F.2.2.3
        mincode, maxcode, valptr, vals = huff[(tc, th)]
        l, code = 1, nextbit()
        while code > maxcode.get(l, -1):
            l += 1
            code = (code << 1) | nextbit()
            assert l <= 16
        return vals[valptr[l] + code - mincode[l]]

    def extend(v, t):  # F.2.1.1
        if t == 0:
            return 0
        return v if v >= 2 ** (t - 1) else v + (-1 << t) + 1

    def receive(n):
        v = 0
        for _ in range(n):
            v = (v << 1) | nextbit()
        return v

    # zigzag walk per T.81 Figure 5 computed from scratch (diagonal walk)
    zig = []
    r = c = 0
    for _ in range(64):
        zig.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1

    bx, by = -(-w // 8), -(-h // 8)
    out = np.zeros((by * 8, bx * 8))
    pred = 0
    for yb in range(by):
        for xb in range(bx):
            coef = [0] * 64
            t = decode(0, td)
            pred += extend(receive(t), t)
            coef[0] = pred
            k = 1
            while k < 64:
                rs = decode(1, ta)
                rr, ss = rs >> 4, rs & 15
                if ss == 0:
                    if rr == 15:
                        k += 16
                        continue
                    break
                k += rr
                coef[k] = extend(receive(ss), ss)
                k += 1
            # dequantize (zigzag order) into natural order
            F = [0.0] * 64
            for k in range(64):
                F[zig[k]] = coef[k] * qt[tq][k]
            # A.3.3 direct-sum IDCT
            for y in range(8):
                for x in range(8):
                    s = 0.0
                    for v in range(8):
                        for u in range(8):
                            cu = 1 / math.sqrt(2) if u == 0 else 1.0
                            cv = 1 / math.sqrt(2) if v == 0 else 1.0
                            s += (
                                cu * cv * F[v * 8 + u]
                                * math.cos((2 * x + 1) * u * math.pi / 16)
                                * math.cos((2 * y + 1) * v * math.pi / 16)
                            )
                    out[yb * 8 + y, xb * 8 + x] = s / 4 + 128
    return np.clip(np.round(out[:h, :w]), 0, 255).astype(np.uint8)


def test_decode_matches_spec_transcription():
    rng = np.random.default_rng(17)
    for h, w in [(8, 8), (11, 14), (16, 9)]:
        g = rng.integers(0, 256, (h, w), dtype=np.uint8)
        payload = J.encode_jpeg(g, quality=80)
        ref = _spec_decode_gray(payload)
        got = J.decode_jpeg(payload)[:, :, 0]
        # float summation order differs between the matrix IDCT and the
        # scalar direct sum; allow the 1-count both roundings admit
        assert np.abs(ref.astype(int) - got.astype(int)).max() <= 1, (h, w)


def test_synth_jpeg_flows_through_decode_image():
    from airbyte_spark.ops.multimodal import decode_image

    for d in (6, 24, 33):  # (d//3)%3 == 2 → JPEG rows in the synth mix
        payload = C.synth_image_jpeg(d)
        assert payload[:2] == b"\xff\xd8"
        rgb = decode_image(payload)
        assert (rgb.shape[0], rgb.shape[1]) == C.synth_image_dims(d)
