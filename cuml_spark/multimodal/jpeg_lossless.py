"""Lossless JPEG (ITU-T T.81 Annex H, process 14 — SOF3) — pure
stdlib+numpy, no libjpeg/Pillow.  Closes the "lossless JPEG" entry of
the codec long tail (the format medical imaging / DNG raw pipelines
still emit); arithmetic coding and hierarchical modes remain honest
refusals in jpeg.py.

Decoder: SOF3 frames, 2–16 bit precision, 1 or 3 components (sampling
factors all 1 — the interleave lossless encoders emit), predictors 1–7,
point transform (Pt), restart intervals.  The entropy layer reuses
baseline JPEG's machinery (`jpeg.build_huffman`, `jpeg._BitReader`,
`jpeg._BitWriter`): each sample codes the magnitude category SSSS
through a DC-class Huffman table followed by SSSS extend-coded
difference bits — exactly baseline DC coding, extended to SSSS = 16
(difference 32768, no extra bits, spec H.1.2.2).

Prediction (spec H.1.2.1): the first sample of the image — and of every
restart interval — predicts ``1 << (P − Pt − 1)``; the rest of the
first line predicts Ra (left); the first column of later lines predicts
Rb (above); everywhere else the scan-selected predictor applies:

    1: Ra    2: Rb    3: Rc    4: Ra + Rb − Rc
    5: Ra + ((Rb − Rc) >> 1)   6: Rb + ((Ra − Rc) >> 1)   7: (Ra+Rb) >> 1

Reconstruction is modulo-2¹⁶ (spec H.2.1): X = (Px + diff) mod 65536,
masked to the sample precision by the encoder's choice of diffs.

Encoder: any predictor, 8- or 16-bit, grayscale or 3-component
interleaved, optional restart interval; one shared Huffman table with
all 17 categories at code length 5 (canonical, spec-legal — the
all-ones length-5 code is never assigned).  Lossless means round trips
are BIT-EXACT for arbitrary images, which the tests exploit: every
(predictor × depth × shape) cell decodes back to the original array
exactly, plus a hand-assembled stream anchors the decoder to the spec
independently of the encoder.
"""

from __future__ import annotations

import struct

import numpy as np

from cuml_spark.multimodal.jpeg import _BitReader, _BitWriter, build_huffman

__all__ = ["decode_jpeg_lossless", "encode_jpeg_lossless"]

# one shared DC-class table: categories 0..16, all at code length 5
# (canonical codes 0..16 of 5 bits; 16 < 0b11111, so the reserved
# all-ones code is never assigned — spec C.2 compliant)
_LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_LL_HUFFVAL = list(range(17))


def _predict(ra: int, rb: int, rc: int, sel: int) -> int:
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"lossless predictor {sel} outside 1..7")


def decode_jpeg_lossless(buf: bytes) -> np.ndarray:
    """Lossless JPEG (SOF3) bytes → (height, width, ncomp) uint8/uint16."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    htabs: dict[int, dict] = {}
    comps = None
    h = w = precision = None
    restart_interval = 0
    pos = 2
    scan = None
    while pos < len(buf):
        if buf[pos] != 0xFF:
            pos += 1
            continue
        marker = buf[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", buf[pos:pos + 2])
        seg = buf[pos + 2:pos + seglen]
        if marker == 0xC4:  # DHT (DC class only is meaningful here)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                p += 1
                bits = list(seg[p:p + 16])
                p += 16
                nsym = sum(bits)
                huffval = list(seg[p:p + nsym])
                p += nsym
                if tc == 0:
                    htabs[th] = build_huffman(bits, huffval)
        elif marker == 0xC3:  # SOF3 lossless sequential
            precision = seg[0]
            if not 2 <= precision <= 16:
                raise ValueError(f"lossless precision {precision}")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for i in range(ncomp):
                cid, hv = seg[6 + 3 * i], seg[7 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "lossless JPEG with sampling factors != 1x1")
                comps.append(cid)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: Ss = predictor, Al = point transform
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cs, td = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comps.append((cs, td >> 4))
            sel, _se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            scan = (scan_comps, sel, ahal & 0xF)
            pos += seglen
            break
        pos += seglen
    if comps is None or scan is None:
        raise ValueError("lossless JPEG missing SOF3/SOS")
    scan_comps, sel, pt = scan
    nc = len(scan_comps)
    default = 1 << (precision - pt - 1)
    out = np.zeros((h, w, nc), dtype=np.int64)
    reader = _BitReader(buf, pos)
    tables = [htabs[td] for _cs, td in scan_comps]

    n_samples = 0
    restart_pending = False
    for y in range(h):
        for x in range(w):
            if (restart_interval and n_samples
                    and n_samples % (restart_interval * nc) == 0):
                restart_pending = True
                reader.align_to_marker()
                p = reader.pos
                while p + 1 < len(reader.data) and not (
                        reader.data[p] == 0xFF
                        and 0xD0 <= reader.data[p + 1] <= 0xD7):
                    p += 1
                reader.pos = p + 2
            for c in range(nc):
                ssss = reader.decode_symbol(tables[c])
                if ssss == 16:
                    diff = 32768
                else:
                    diff = reader.receive_extend(ssss)
                if restart_pending or (y == 0 and x == 0):
                    px = default
                elif y == 0:
                    px = int(out[y, x - 1, c])
                elif x == 0:
                    px = int(out[y - 1, x, c])
                else:
                    ra = int(out[y, x - 1, c])
                    rb = int(out[y - 1, x, c])
                    rc_ = int(out[y - 1, x - 1, c])
                    px = _predict(ra, rb, rc_, sel)
                out[y, x, c] = (px + diff) & 0xFFFF
                n_samples += 1
            restart_pending = False
    out <<= pt
    dtype = np.uint8 if precision <= 8 else np.uint16
    return out.astype(dtype)


def _ssss(diff: int) -> int:
    return int(diff).bit_length() if diff >= 0 else int(-diff).bit_length()


def encode_jpeg_lossless(
    img: np.ndarray,
    *,
    predictor: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """(h, w[, ncomp]) uint8/uint16 → lossless JPEG (SOF3) bytes.

    Decoding the result returns the EXACT input array (the format's
    contract, pinned by round-trip tests over every predictor)."""
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, 3):
        raise ValueError("expected (h, w) or (h, w, 1|3) image")
    if img.dtype == np.uint8:
        precision = 8
    elif img.dtype == np.uint16:
        precision = 16
    else:
        raise ValueError(f"unsupported dtype {img.dtype} (uint8/uint16)")
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor {predictor} outside 1..7")
    h, w, nc = img.shape
    default = 1 << (precision - 1)
    arr = img.astype(np.int64)

    # canonical codes for the shared table: symbol s -> (code s, 5 bits)
    codes = {s: (s, 5) for s in range(17)}

    out = bytearray(b"\xff\xd8")
    # DHT: DC class 0, table id 0
    dht = bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_HUFFVAL)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    # SOF3
    sof = bytes([precision]) + struct.pack(">HH", h, w) + bytes([nc])
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0x00])
    out += b"\xff\xc3" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS: every component uses DC table 0; Ss = predictor, Al = Pt = 0
    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00])
    sos += bytes([predictor, 0x00, 0x00])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wr = _BitWriter()
    n_samples = 0
    rst = 0
    restart_pending = False
    for y in range(h):
        for x in range(w):
            if (restart_interval and n_samples
                    and n_samples % (restart_interval * nc) == 0):
                wr.flush()
                out += wr.out
                wr = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                restart_pending = True
            for c in range(nc):
                if restart_pending or (y == 0 and x == 0):
                    px = default
                elif y == 0:
                    px = int(arr[y, x - 1, c])
                elif x == 0:
                    px = int(arr[y - 1, x, c])
                else:
                    px = _predict(int(arr[y, x - 1, c]),
                                  int(arr[y - 1, x, c]),
                                  int(arr[y - 1, x - 1, c]), predictor)
                diff = (int(arr[y, x, c]) - px) & 0xFFFF
                if diff >= 32768:
                    diff -= 65536  # mod-2^16 representative in [-32768, 32767]
                if diff == -32768:
                    diff = 32768  # category 16 (spec H.1.2.2)
                s = _ssss(diff) if diff != 32768 else 16
                code, nbits = codes[s]
                wr.write_bits(code, nbits)
                if 0 < s < 16:
                    v = diff if diff >= 0 else diff + (1 << s) - 1
                    wr.write_bits(v & ((1 << s) - 1), s)
                n_samples += 1
            restart_pending = False
    wr.flush()
    out += wr.out
    out += b"\xff\xd9"
    return bytes(out)
