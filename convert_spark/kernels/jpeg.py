"""JPEG (ITU T.81 DCT) codec from scratch — numpy only.

Public-spec implementation for the multimodal real path: huffman-coded
8x8 DCT blocks, standard zigzag order, JFIF YCbCr. The decoder is
coefficient-domain and multi-scan: it accumulates every scan's
coefficients per component, then dequantizes / IDCTs / upsamples /
color-converts once at EOI. Supported scan shapes:

* baseline / extended sequential (SOF0/SOF1), interleaved or
  per-component (multi-scan sequential), arbitrary sampling factors
  (4:4:4, 4:2:2, 4:2:0, grayscale), restart intervals;
* progressive (SOF2, ITU T.81 Annex G): DC/AC spectral selection and
  successive approximation — first scans and refinement scans, EOB
  runs, interleaved DC / per-component AC geometry, restart intervals;
* Adobe APP14 color transforms: transform=1 (YCbCr), transform=0 (RGB
  passthrough for 3 components, inverted CMYK for 4), transform=2
  (YCCK -> true-ink CMYK); 4 components without an Adobe marker decode
  as plain CMYK per the libjpeg convention.

* 12-bit sample precision (T.81 extended DCT): 16-bit quantization
  tables (DQT Pq=1), level shift 2048, uint16 rasters clamped to
  0..4095 — decode for ANY 12-bit scan shape (the scan machinery is
  precision-independent), encode for grayscale/4:4:4 sequential.

* lossless (SOF3, process 14): huffman-coded modulo-2^16 prediction
  differences, predictors 1-7, precisions 2-16, point transform;
  decode is row-vectorized for the affine predictors; the paired
  ``encode_lossless`` round-trips BIT-EXACTLY.

Arithmetic coding and hierarchical mode raise
NotImplementedError — the same single declared exception type as the
rest of operators/multimodal. Truncated entropy data raises (never
silently zero-pads to a black remainder).

The encoder (used by the real resize path and the round-trip tests)
writes baseline 4:4:4 / 4:2:0 / grayscale — or spectral-selection
progressive with ``progressive=True`` — with the Annex K example
quantization and huffman tables, quality-scaled per the common IJG
convention.

All table constants below are from the published standard (Annex K).

Performance note: the entropy coder is a scalar Python bit loop — fine
for the sandbox's small test payloads and correctness work, but a
production cluster decoding megapixel corpora should swap in a
vectorized/library codec at this call site (the block IDCT/color math
is batched numpy). The declared-exception contract is what transfers.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: index i of the zigzag sequence -> position in the 8x8 block
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 example quantization tables (luminance, chrominance)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 example huffman tables: (counts per code length 1..16, symbols)
_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)
_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)

# 8x8 DCT-II basis matrix A: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# forward DCT = A·block·Aᵀ, inverse = Aᵀ·coeff·A (orthonormal)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _A[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _mm8(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The product of (stacks of) 8x8 float64 matrices in one fixed order:
    each term multiplied and rounded, then summed with k ascending. A BLAS
    matmul picks its kernel per CPU, and an FMA kernel rounds differently,
    which moved ``np.rint`` of a DCT coefficient and so the encoded bytes
    by host. This order is also the twin decoder's IDCT order."""
    out = a[..., :, 0, None] * b[..., None, 0, :]
    for k in range(1, 8):
        out = out + a[..., :, k, None] * b[..., None, k, :]
    return out


def _canonical_codes(counts, symbols):
    """(counts per length 1..16, symbols) -> {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _encode_codes(counts, symbols):
    """symbol -> (code, length) for the encoder."""
    dec = _canonical_codes(counts, symbols)
    return {sym: (code, length) for (length, code), sym in dec.items()}


# Extended-precision (12-bit) huffman tables: Annex K's example tables
# only reach DC category 11 / AC size 10, but 12-bit samples legally
# produce DC diffs to category 15 and AC sizes to 14 (T.81 F.1.2.1.1).
# These flat canonical tables cover the full extended alphabet — code
# compactness is NOT the goal of the from-scratch 12-bit path, carrying
# every legal symbol is (the all-ones code point at each length stays
# reserved per C.2, since 15 < 2^4-1 cap and 226 <= 2^8-2 after the
# split below).
_DC_EXT = (
    (0, 0, 0, 15, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),  # 15 x 4-bit + 1 x 5-bit
    tuple(range(16)),
)
_AC_EXT = (
    (0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0),  # all 8-bit
    (0x00, 0xF0) + tuple((r << 4) | s for r in range(16) for s in range(1, 15)),
)


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-stuffing removal; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        while self.n <= 24 and self.marker is None:
            if self.pos >= len(d):
                # Truncated entropy stream (no terminating marker): stop
                # filling — bits() raises the declared malformed-payload
                # error instead of silently decoding a zero-padded
                # black/garbage remainder.
                return
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2  # stuffed 0xFF data byte
                elif 0xD0 <= nxt <= 0xD7:
                    self.marker = nxt  # RSTn — caller consumes via sync()
                    continue
                else:
                    self.marker = nxt  # EOI / next segment
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._fill()
        if self.n < k:
            raise NotImplementedError("malformed JPEG: entropy data exhausted")
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        return v

    def huffman(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise NotImplementedError("malformed JPEG: invalid huffman code")

    def sync_restart(self) -> None:
        """Discard pad bits and consume the RSTn marker between restart
        intervals. The marker may or may not have been seen by _fill yet
        (the interval can end on an exact byte boundary), so scan forward
        from the current byte position either way."""
        self.acc = 0
        self.n = 0
        self.marker = None
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise NotImplementedError("malformed JPEG: missing restart marker")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to its signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_baseline(data: bytes) -> np.ndarray:
    """Decode a sequential OR progressive JPEG to (h, w, 3) RGB uint8
    — uint16 in 0..4095 for 12-bit precision frames; lossless SOF3
    frames decode to literal components, bit-exact —
    (or (h, w, 1) for single-component frames). Arithmetic-coded and
    hierarchical inputs raise NotImplementedError
    (the one declared type, like every malformed-payload path). The name
    keeps the original call-site contract; progressive support was added
    on top of the same entry point."""
    try:
        return _decode(data)
    except NotImplementedError:
        raise
    except Exception as exc:  # noqa: BLE001 — corrupt segment/entropy data
        raise NotImplementedError(f"malformed JPEG: {exc}") from exc


def _parse_sof(body: bytes, progressive: bool, lossless: bool = False) -> dict:
    precision = body[0]
    if lossless:
        if not 2 <= precision <= 16:  # T.81 B.2.2: lossless allows 2..16
            raise NotImplementedError(f"{precision}-bit lossless JPEG: malformed precision")
    elif precision not in (8, 12):
        # T.81 allows only 8/12 for DCT processes; anything else is malformed
        raise NotImplementedError(f"{precision}-bit JPEG: unsupported precision")
    h, w = struct.unpack(">HH", body[1:5])
    if h == 0 or w == 0:
        raise NotImplementedError("malformed JPEG: zero frame dims")
    ncomp = body[5]
    comps = []
    for i in range(ncomp):
        cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
        ch, cv = samp >> 4, samp & 0x0F
        if ch == 0 or cv == 0:
            raise NotImplementedError("malformed JPEG: zero sampling factor")
        comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        # component dims (T.81 A.1.1) and its non-interleaved block grid
        c["bw"] = -(-(-(-w * c["h"] // hmax)) // 8)
        c["bh"] = -(-(-(-h * c["v"] // vmax)) // 8)
        # MCU-padded storage grid (superset of the non-interleaved grid)
        c["sw"] = mcus_x * c["h"]
        c["sh"] = mcus_y * c["v"]
    if lossless and (hmax != 1 or vmax != 1):
        raise NotImplementedError("lossless JPEG with subsampling: unsupported")
    return {
        "h": h, "w": w, "comps": comps, "hmax": hmax, "vmax": vmax,
        "mcus_x": mcus_x, "mcus_y": mcus_y, "progressive": progressive,
        "dc_done": [False] * ncomp, "precision": precision, "lossless": lossless,
    }


def _decode(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise NotImplementedError("malformed JPEG: no SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None
    coeffs: list[np.ndarray] | None = None  # per comp: (sh, sw, 64) zigzag-order
    restart = 0
    adobe_transform: int | None = None
    scans_seen = 0
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise NotImplementedError("malformed JPEG: segment desync")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI — finalize whatever scans accumulated
            break
        if pos + 4 > len(data):
            raise NotImplementedError("malformed JPEG: truncated segment header")
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT — multiple tables per segment
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq not in (0, 1):
                    raise NotImplementedError("malformed JPEG: DQT precision field")
                if pq:  # 16-bit entries (required by 12-bit sample precision)
                    zz = np.frombuffer(body[b + 1 : b + 129], dtype=">u2").astype(np.int64)
                else:
                    zz = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = zz
                qt[tq] = tbl.reshape(8, 8)
                b += 129 if pq else 65
        elif marker == 0xC4:  # DHT — multiple tables per segment
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                counts = tuple(body[b + 1 : b + 17])
                n = sum(counts)
                symbols = tuple(body[b + 17 : b + 17 + n])
                huff[(tc, th)] = _canonical_codes(counts, symbols)
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential (SOF0/1) / progressive (SOF2)
            if frame is not None:
                raise NotImplementedError("multi-frame (hierarchical) JPEG: unsupported")
            frame = _parse_sof(body, progressive=(marker == 0xC2))
            coeffs = [
                np.zeros((c["sh"], c["sw"], 64), dtype=np.int32) for c in frame["comps"]
            ]
        elif marker == 0xC3:  # lossless (SOF3, T.81 process 14)
            if frame is not None:
                raise NotImplementedError("multi-frame (hierarchical) JPEG: unsupported")
            frame = _parse_sof(body, progressive=False, lossless=True)
            coeffs = [
                np.zeros((frame["h"], frame["w"]), dtype=np.int64) for _ in frame["comps"]
            ]  # reconstructed SAMPLE grids, not DCT coefficients
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("hierarchical/arithmetic JPEG: unsupported")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_transform = body[11]  # APP14: 0=RGB, 1=YCbCr, 2=YCCK
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise NotImplementedError("malformed JPEG: SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                ci = next(
                    (j for j, c in enumerate(frame["comps"]) if c["id"] == cid), None
                )
                if ci is None:
                    raise NotImplementedError("malformed JPEG: scan references unknown component")
                scan.append((ci, tt >> 4, tt & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if frame.get("lossless"):
                pos = _decode_lossless_scan(
                    data, pos + 2 + seg_len, frame, scan, ss, al, huff, restart, coeffs
                )
            else:
                pos = _decode_scan(
                    data, pos + 2 + seg_len, frame, scan, ss, se, ah, al, huff, restart, coeffs
                )
            scans_seen += 1
            continue
        pos += 2 + seg_len
    if frame is None or scans_seen == 0:
        raise NotImplementedError("malformed JPEG: no SOS marker")
    if frame.get("lossless"):
        return _finalize_lossless(frame, coeffs)
    return _finalize(frame, coeffs, qt, adobe_transform)


def _decode_scan(data, pos, frame, scan, ss, se, ah, al, huff, restart, coeffs) -> int:
    """Decode ONE scan's entropy data into the per-component zigzag
    coefficient arrays; returns the byte position of the next marker.
    Handles every T.81 scan geometry: interleaved (ns>1, MCU order) and
    non-interleaved (ns=1, the component's own block raster), sequential
    full-band and progressive DC/AC first/refinement scans."""
    progressive = frame["progressive"]
    if not progressive:
        ss, se, ah, al = 0, 63, 0, 0  # fixed for sequential; bytes are ignored
    else:
        if ss == 0 and se != 0:
            raise NotImplementedError("malformed JPEG: progressive DC scan with Se != 0")
        if ss > 0 and len(scan) != 1:
            raise NotImplementedError("malformed JPEG: interleaved progressive AC scan")
        if se > 63 or ss > 63 or al > 13 or ah > 13:
            raise NotImplementedError("malformed JPEG: scan band/shift out of range")
        for ci, _, _ in scan:
            if ss == 0 and ah == 0:
                frame["dc_done"][ci] = True
            elif not frame["dc_done"][ci]:
                raise NotImplementedError(
                    "malformed JPEG: AC/refinement scan before the component's first DC scan"
                )
    # resolve huffman tables up front (DC tables for bands containing 0,
    # AC tables for AC bands; refinement DC scans need no table at all)
    tables = []
    for ci, td, ta in scan:
        dc_tbl = huff.get((0, td)) if ss == 0 and ah == 0 else None
        ac_tbl = huff.get((1, ta)) if se > 0 else None
        if ss == 0 and ah == 0 and dc_tbl is None:
            raise NotImplementedError("malformed JPEG: missing DC huffman table")
        if se > 0 and ac_tbl is None and (progressive is False or ss > 0):
            raise NotImplementedError("malformed JPEG: missing AC huffman table")
        tables.append((dc_tbl, ac_tbl))

    reader = _BitReader(data, pos)
    pred = [0] * len(scan)
    state = {"eobrun": 0}

    def decode_unit(ci_idx: int, blk: np.ndarray) -> None:
        """One 8x8 block's worth of this scan's band into ``blk`` (the
        int32 zigzag view for that block)."""
        dc_tbl, ac_tbl = tables[ci_idx]
        if not progressive:
            t = reader.huffman(dc_tbl)
            diff = _extend(reader.bits(t), t) if t else 0
            pred[ci_idx] += diff
            blk[0] = pred[ci_idx]
            k = 1
            while k < 64:
                rs = reader.huffman(ac_tbl)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:  # ZRL: 16 zeros
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise NotImplementedError("malformed JPEG: AC index overflow")
                blk[k] = _extend(reader.bits(s), s)
                k += 1
        elif ss == 0:  # progressive DC
            if ah == 0:
                t = reader.huffman(dc_tbl)
                diff = _extend(reader.bits(t), t) if t else 0
                pred[ci_idx] += diff
                blk[0] = pred[ci_idx] << al
            elif reader.bits(1):
                blk[0] |= 1 << al
        elif ah == 0:  # progressive AC first scan
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return
            k = ss
            while k <= se:
                rs = reader.huffman(ac_tbl)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += reader.bits(r)
                    break
                k += r
                if k > se:
                    raise NotImplementedError("malformed JPEG: AC index past Se")
                blk[k] = _extend(reader.bits(s), s) << al
                k += 1
        else:  # progressive AC refinement (T.81 G.1.2.3.2)
            p1, m1 = 1 << al, -(1 << al)
            k = ss
            if state["eobrun"] == 0:
                while k <= se:
                    rs = reader.huffman(ac_tbl)
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s == 0:
                        if r < 15:
                            # refinement EOBn counts the CURRENT block —
                            # its remaining band still consumes
                            # correction bits below (unlike the
                            # exclusive first-scan convention)
                            state["eobrun"] = 1 << r
                            if r:
                                state["eobrun"] += reader.bits(r)
                            break
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise NotImplementedError(
                                "malformed JPEG: refinement magnitude != 1"
                            )
                        val = p1 if reader.bits(1) else m1
                    while k <= se:
                        if blk[k] != 0:  # nonzero history: correction bit
                            if reader.bits(1) and (blk[k] & p1) == 0:
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            if r == 0:
                                if val:
                                    blk[k] = val
                                k += 1
                                break
                            r -= 1
                        k += 1
            if state["eobrun"] > 0:
                while k <= se:  # EOB span: correction bits only
                    if blk[k] != 0 and reader.bits(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                state["eobrun"] -= 1

    interleaved = len(scan) > 1
    if interleaved:
        units = frame["mcus_x"] * frame["mcus_y"]
    else:
        c = frame["comps"][scan[0][0]]
        units = c["bw"] * c["bh"]
    mcu_count = 0
    for u in range(units):
        if restart and mcu_count and mcu_count % restart == 0:
            reader.sync_restart()
            pred = [0] * len(scan)
            state["eobrun"] = 0
        if interleaved:
            my, mx = divmod(u, frame["mcus_x"])
            for idx, (ci, _, _) in enumerate(scan):
                comp = frame["comps"][ci]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        decode_unit(idx, coeffs[ci][my * comp["v"] + by, mx * comp["h"] + bx])
        else:
            ci = scan[0][0]
            comp = frame["comps"][ci]
            by, bx = divmod(u, comp["bw"])
            decode_unit(0, coeffs[ci][by, bx])
        mcu_count += 1
    # advance to the next marker (pad bits / stuffed bytes in between)
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    return len(data)


_SOF_MARKERS = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def frame_info(data: bytes) -> tuple[int, int]:
    """(SOF marker, sample precision) from a cheap marker walk — for
    callers that need the coding process without a full decode (e.g.
    the resize stage re-encoding in the source process/precision)."""
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if marker in _SOF_MARKERS:
            return marker, data[pos + 4]
        pos += 2 + seg_len
    raise NotImplementedError("malformed JPEG: no SOF marker")


def _decode_lossless_scan(data, pos, frame, scan, predictor, pt, huff, restart, samples) -> int:
    """T.81 lossless (process 14) scan: huffman-coded modulo-2^16
    prediction differences over the sample raster (Ss selects the
    predictor 1-7, Al is the point transform). The ENTROPY pass is the
    same scalar bit loop as the DCT path; RECONSTRUCTION is
    row-vectorized for predictors 1-5, whose recurrences are affine in
    the left neighbor (each row collapses to one cumsum — deferred
    modulo is valid because every step is additive), and scalar for
    6/7, where the left neighbor sits inside an arithmetic shift."""
    if restart:
        raise NotImplementedError("lossless JPEG restart intervals: unsupported")
    if not 1 <= predictor <= 7:
        raise NotImplementedError("malformed JPEG: lossless predictor out of range")
    h, w = frame["h"], frame["w"]
    tables = []
    for _, td, _ in scan:
        t = huff.get((0, td))
        if t is None:
            raise NotImplementedError("malformed JPEG: missing lossless huffman table")
        tables.append(t)
    reader = _BitReader(data, pos)
    diffs = [np.zeros((h, w), dtype=np.int64) for _ in scan]
    for y in range(h):
        for x in range(w):
            for si in range(len(scan)):
                t = reader.huffman(tables[si])
                if t == 16:  # T.81: SSSS=16 means +32768, no extra bits
                    diffs[si][y, x] = 32768
                elif t > 16:
                    raise NotImplementedError("malformed JPEG: lossless SSSS > 16")
                else:
                    diffs[si][y, x] = _extend(reader.bits(t), t) if t else 0
    default = 1 << (frame["precision"] - pt - 1)
    for si, (ci, _, _) in enumerate(scan):
        out = samples[ci]
        d = diffs[si]
        out[0] = default + np.cumsum(d[0])  # first row: Ra chain from the default
        for y in range(1, h):
            prev = out[y - 1] & 0xFFFF
            out[y, 0] = prev[0] + d[y, 0]  # first column: Rb
            if w == 1:
                continue
            if predictor == 1:  # Ra
                out[y, 1:] = out[y, 0] + np.cumsum(d[y, 1:])
            elif predictor == 2:  # Rb
                out[y, 1:] = prev[1:] + d[y, 1:]
            elif predictor == 3:  # Rc
                out[y, 1:] = prev[:-1] + d[y, 1:]
            elif predictor == 4:  # Ra + Rb - Rc
                out[y, 1:] = out[y, 0] + np.cumsum(d[y, 1:] + prev[1:] - prev[:-1])
            elif predictor == 5:  # Ra + ((Rb - Rc) >> 1)
                out[y, 1:] = out[y, 0] + np.cumsum(d[y, 1:] + ((prev[1:] - prev[:-1]) >> 1))
            elif predictor == 6:  # Rb + ((Ra - Rc) >> 1): Ra inside a shift
                for x in range(1, w):
                    ra = int(out[y, x - 1]) & 0xFFFF
                    out[y, x] = int(prev[x]) + ((ra - int(prev[x - 1])) >> 1) + int(d[y, x])
            else:  # 7: (Ra + Rb) >> 1
                for x in range(1, w):
                    ra = int(out[y, x - 1]) & 0xFFFF
                    out[y, x] = ((ra + int(prev[x])) >> 1) + int(d[y, x])
    frame["pt"] = pt
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    return len(data)


def _finalize_lossless(frame, samples) -> np.ndarray:
    """Stack reconstructed lossless sample grids: components are stored
    literally (no color transform in lossless JPEG), output dtype uint8
    for precision <= 8, else uint16; the point transform shifts back."""
    pt = frame.get("pt", 0)
    dtype = np.uint8 if frame["precision"] <= 8 else np.uint16
    arr = np.stack([(s & 0xFFFF) << pt for s in samples], axis=2) & 0xFFFF
    return arr.astype(dtype)


# flat huffman table for the lossless encoder: SSSS categories 0..16
# (Annex K's DC example stops at 11); 17 symbols at 5 bits, codes 0..16,
# the all-ones code point 31 stays reserved per C.2
_DC_LOSSLESS = (
    (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(17)),
)


def encode_lossless(px: np.ndarray, predictor: int = 4, precision: int | None = None) -> bytes:
    """Lossless JPEG (SOF3) writer: ``px`` is (h, w, nc) uint8/uint16,
    reproduced BIT-EXACTLY by ``decode_baseline``. ``predictor`` selects
    T.81 prediction 1-7; precision defaults to 8 for uint8 input, 16
    for uint16 (pass e.g. 12 to pin it). Point transform 0, 1x1
    sampling, single interleaved scan."""
    h, w, nc = px.shape
    if precision is None:
        precision = 8 if px.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise NotImplementedError(f"lossless encode: precision {precision} out of range")
    if not 1 <= predictor <= 7:
        raise NotImplementedError(f"lossless encode: predictor {predictor} out of range")
    if int(px.max(initial=0)) > (1 << precision) - 1:
        raise NotImplementedError("lossless encode: samples exceed the stated precision")

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    comp_spec = b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc))
    out += seg(0xC3, struct.pack(">BHHB", precision, h, w, nc) + comp_spec)
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_LOSSLESS[0]) + bytes(_DC_LOSSLESS[1]))
    out += seg(
        0xDA,
        bytes([nc]) + b"".join(bytes([i + 1, 0x00]) for i in range(nc))
        + bytes([predictor, 0, 0]),
    )
    codes = _encode_codes(*_DC_LOSSLESS)
    s = px.astype(np.int64)
    default = 1 << (precision - 1)
    # prediction arrays come straight from the known samples (the
    # encoder needs no recurrence — every neighbor is already exact)
    dgrids = []
    for c in range(nc):
        v = s[:, :, c]
        p = np.empty((h, w), dtype=np.int64)
        p[0, 0] = default
        if w > 1:
            p[0, 1:] = v[0, :-1]
        if h > 1:
            p[1:, 0] = v[:-1, 0]
            if w > 1:
                ra, rb, rc = v[1:, :-1], v[:-1, 1:], v[:-1, :-1]
                if predictor == 1:
                    p[1:, 1:] = ra
                elif predictor == 2:
                    p[1:, 1:] = rb
                elif predictor == 3:
                    p[1:, 1:] = rc
                elif predictor == 4:
                    p[1:, 1:] = ra + rb - rc
                elif predictor == 5:
                    p[1:, 1:] = ra + ((rb - rc) >> 1)
                elif predictor == 6:
                    p[1:, 1:] = rb + ((ra - rc) >> 1)
                else:
                    p[1:, 1:] = (ra + rb) >> 1
        dgrids.append((v - p) & 0xFFFF)
    bw = _BitWriter()
    for y in range(h):
        for x in range(w):
            for c in range(nc):
                v = int(dgrids[c][y, x])
                if v == 32768:  # SSSS=16: no extra bits
                    code, ln = codes[16]
                    bw.bits(code, ln)
                    continue
                sd = v - 65536 if v > 32768 else v
                t = int(abs(sd)).bit_length()
                code, ln = codes[t]
                bw.bits(code, ln)
                if t:
                    bw.bits(sd if sd > 0 else sd + (1 << t) - 1, t)
    bw.flush()
    return out + bytes(bw.out) + b"\xff\xd9"


def _finalize(frame, coeffs, qt, adobe_transform) -> np.ndarray:
    """Dequantize + batched IDCT + upsample + color-convert the
    accumulated coefficient arrays into the output raster. Sample
    precision parameterizes the level shift (2^(P-1)), the clamp range
    (0..2^P-1) and the output dtype (uint8 / uint16 for 12-bit)."""
    h, w = frame["h"], frame["w"]
    level = float(1 << (frame["precision"] - 1))
    maxv = (1 << frame["precision"]) - 1
    dtype = np.uint8 if frame["precision"] == 8 else np.uint16

    def clampv(a: np.ndarray) -> np.ndarray:
        return np.clip(np.rint(a), 0, maxv).astype(dtype)

    full = []
    for comp, cz in zip(frame["comps"], coeffs):
        q = qt.get(comp["tq"])
        if q is None:
            raise NotImplementedError("malformed JPEG: missing quantization table")
        qzz = q.reshape(-1)[_ZIGZAG]  # quant values in zigzag order
        sh, sw = comp["sh"], comp["sw"]
        zz = cz.reshape(sh * sw, 64).astype(np.int64) * qzz
        nat = np.zeros((sh * sw, 64), dtype=np.int64)
        nat[:, _ZIGZAG] = zz
        blocks = _mm8(_mm8(_A.T, nat.reshape(-1, 8, 8).astype(np.float64)), _A) + level
        p = (
            blocks.reshape(sh, sw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(sh * 8, sw * 8)
        )
        ry, rx = frame["vmax"] // comp["v"], frame["hmax"] // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return clampv(full[0])[:, :, None]
    if len(full) == 4:
        # Adobe CMYK family (Adobe TN #5116 / the libjpeg convention):
        # transform=2 is YCCK — the YCbCr forward transform applied to
        # the INVERTED C,M,Y channels with K passed through; transform=0
        # (or any Adobe marker) stores inverted ink; a 4-component file
        # with NO Adobe marker is plain non-inverted CMYK. Output is
        # true ink amounts, 4 channels.
        if adobe_transform == 2:
            y, cb, cr = full[0], full[1] - level, full[2] - level
            r = y + 1.402 * cr
            g = y - 0.344136 * cb - 0.714136 * cr
            b = y + 1.772 * cb
            return (maxv - clampv(np.stack([r, g, b, full[3]], axis=2))).astype(dtype)
        if adobe_transform == 0:
            return (maxv - clampv(np.stack(full, axis=2))).astype(dtype)
        if adobe_transform is None:
            return clampv(np.stack(full, axis=2))
        raise NotImplementedError(
            f"4-component JPEG with Adobe transform {adobe_transform}: malformed"
        )
    if len(full) != 3:
        raise NotImplementedError(f"{len(full)}-component JPEG: not JFIF YCbCr")
    if adobe_transform == 0:  # Adobe APP14: components are literal RGB
        return clampv(np.stack(full, axis=2))
    if adobe_transform is not None and adobe_transform != 1:
        raise NotImplementedError(f"Adobe APP14 transform {adobe_transform}: unsupported")
    y, cb, cr = full[0], full[1] - level, full[2] - level
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return clampv(np.stack([r, g, b], axis=2))


# --- encoder (baseline, 4:4:4 or grayscale; Annex K tables) -------------------


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG-convention quality scaling of the Annex K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    ql = np.clip((_Q_LUMA.reshape(8, 8) * scale + 50) // 100, 1, 255)
    qc = np.clip((_Q_CHROMA.reshape(8, 8) * scale + 50) // 100, 1, 255)
    return ql, qc


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v: int, k: int) -> None:
        if k == 0:
            return
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.bits((1 << pad) - 1, pad)  # pad with 1s per spec


def _block_zz(plane, ys, xs, q, level: float = 128.0) -> np.ndarray:
    """Quantized zigzag-order coefficients for the 8x8 tile at (ys, xs)."""
    coeff = np.rint(_mm8(_mm8(_A, _pad_block(plane, ys, xs) - level), _A.T) / q).astype(np.int64)
    return coeff.reshape(-1)[_ZIGZAG]


def _emit_dc(bw, zz0: int, pred: int, dc_codes) -> int:
    diff = int(zz0) - pred
    t = int(diff != 0 and int(np.abs(diff)).bit_length() or 0)
    code, length = dc_codes[t]
    bw.bits(code, length)
    if t:
        bw.bits(diff if diff > 0 else diff + (1 << t) - 1, t)
    return int(zz0)


def _emit_ac(bw, zz, ac_codes, al: int = 0) -> None:
    """AC band (1..63) of one block — sequential scans and progressive
    AC FIRST scans (T.81 G.1.2.2: the point transform divides AC values
    by 2^al with truncation toward zero)."""
    def pt(v: int) -> int:
        v = int(v)
        return v >> al if v >= 0 else -((-v) >> al)

    vals = [pt(zz[k]) for k in range(64)]
    run = 0
    last_nz = max([k for k in range(1, 64) if vals[k]], default=0)
    for k in range(1, last_nz + 1):
        v = vals[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.bits(c, ln)
            run -= 16
        s = int(np.abs(v)).bit_length()
        c, ln = ac_codes[(run << 4) | s]
        bw.bits(c, ln)
        bw.bits(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB (== EOB0 in progressive AC scans)
        bw.bits(c, ln)


def _emit_ac_refine(bw, zz, ac_codes, al: int) -> None:
    """AC successive-approximation REFINEMENT scan for one block (T.81
    G.1.2.3): newly-significant coefficients as (run, 1) symbols + sign;
    already-significant coefficients contribute one correction bit each,
    emitted in the exact positional order the decoder's walk consumes
    them — a ZRL span covers corrections up to and including its 16th
    zero-history position, a (run, 1) symbol covers sign first then the
    corrections up to the placed coefficient, and a trailing EOB0 covers
    the corrections of the remaining band."""
    toks: list[tuple[str, int]] = []
    for k in range(1, 64):
        a = abs(int(zz[k])) >> al
        if a == 0:
            toks.append(("z", 0))  # zero history, stays zero this pass
        elif a == 1:
            toks.append(("n", 1 if zz[k] > 0 else 0))  # newly significant
        else:
            toks.append(("h", a & 1))  # history: correction bit
    i = 0
    n_tok = len(toks)
    while True:
        j = i
        zeros = 0
        nxt = None
        while j < n_tok:
            t, _ = toks[j]
            if t == "n":
                nxt = j
                break
            if t == "z":
                zeros += 1
            j += 1
        if nxt is None:
            if i < n_tok:  # positions remain: EOB0 + their corrections
                c, ln = ac_codes[0x00]
                bw.bits(c, ln)
                for t, b in toks[i:]:
                    if t == "h":
                        bw.bits(b, 1)
            return
        while zeros > 15:
            c, ln = ac_codes[0xF0]  # ZRL: consume through the 16th zero
            bw.bits(c, ln)
            zcount = 0
            while i < n_tok:
                t, b = toks[i]
                i += 1
                if t == "h":
                    bw.bits(b, 1)
                else:
                    zcount += 1
                    if zcount == 16:
                        break
            zeros -= 16
        c, ln = ac_codes[(zeros << 4) | 1]
        bw.bits(c, ln)
        bw.bits(toks[nxt][1], 1)  # sign precedes the span's corrections
        for t, b in toks[i:nxt]:
            if t == "h":
                bw.bits(b, 1)
        i = nxt + 1


def _encode_block(bw, block, q, dc_codes, ac_codes, pred, level: float = 128.0):
    coeff = np.rint(_mm8(_mm8(_A, block - level), _A.T) / q).astype(np.int64)
    zz = coeff.reshape(-1)[_ZIGZAG]
    _emit_dc(bw, int(zz[0]), pred, dc_codes)
    _emit_ac(bw, zz, ac_codes)
    return int(zz[0])


def _pad_block(plane: np.ndarray, ys: int, xs: int) -> np.ndarray:
    """8x8 tile at (ys, xs) with edge-replication padding."""
    blk = np.zeros((8, 8))
    tile = plane[ys : ys + 8, xs : xs + 8]
    blk[: tile.shape[0], : tile.shape[1]] = tile
    if 0 < tile.shape[0] < 8:
        blk[tile.shape[0] :, :] = blk[tile.shape[0] - 1, :]
    if 0 < tile.shape[1] < 8:
        blk[:, tile.shape[1] :] = blk[:, tile.shape[1] - 1][:, None]
    return blk


def encode_baseline(
    px: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
    sa_levels: int = 0,
    adobe_transform: int | None = None,
    precision: int = 8,
) -> bytes:
    """Encode (h, w, 1|3|4) uint8 as JFIF — baseline 4:4:4 by default,
    4:2:0 with ``subsample=True`` (2x2-mean chroma), grayscale for one
    channel; optional DRI/RSTn restart markers every
    ``restart_interval`` MCUs (resets DC predictors, as the spec
    requires). With ``progressive=True``, writes a spectral-selection
    progressive file (SOF2): one interleaved DC scan (Ss=Se=0) followed
    by one full-band AC scan per component (Ss=1, Se=63); add
    ``sa_levels=1`` for SUCCESSIVE APPROXIMATION — the first scans carry
    the high bits (Al=1) and a refinement pass (Ah=1, Al=0) the low
    bits. Either way the encoding is pixel-identical to the baseline
    encoding of the same image, since the coefficients are the same and
    only the scan layout differs.

    Four channels are TRUE-INK CMYK and require ``adobe_transform`` 0
    (Adobe inverted CMYK) or 2 (YCCK: YCbCr transform of the inverted
    C,M,Y with K passed through) — the Adobe APP14 marker is written so
    decoders pick the matching inverse; 4:4:4 only.

    ``precision=12`` writes an EXTENDED sequential file (SOF1, T.81
    process 2): uint16 samples in 0..4095, level shift 2048, 16-bit
    quantization tables (Annex K x16) and flat extended huffman tables
    covering DC category 15 / AC size 14 — grayscale or 4:4:4 RGB,
    sequential only (12-bit progressive/CMYK/subsampling stay
    declared)."""
    h, w, nc = px.shape
    if nc not in (1, 3, 4):
        raise NotImplementedError(f"JPEG encode: {nc} channels unsupported")
    if precision not in (8, 12):
        raise NotImplementedError(f"JPEG encode: precision {precision} unsupported")
    ql, qc = _quality_tables(quality)
    level = 128.0
    if precision == 12:
        if nc == 4 or subsample or progressive:
            raise NotImplementedError(
                "JPEG encode: 12-bit supports grayscale/4:4:4 sequential only"
            )
        if int(px.max(initial=0)) > 4095:
            raise NotImplementedError("JPEG encode: 12-bit samples exceed 4095")
        ql, qc = ql * 16, qc * 16
        level = 2048.0
    if nc == 4:
        if adobe_transform not in (0, 2):
            raise NotImplementedError("JPEG encode: CMYK needs adobe_transform 0 or 2")
        if subsample:
            raise NotImplementedError("JPEG encode: CMYK subsampling unsupported")
        inv = 255.0 - px.astype(np.float64)  # Adobe stores inverted ink
        if adobe_transform == 2:
            r, g, b = inv[:, :, 0], inv[:, :, 1], inv[:, :, 2]
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
            chans = [(y, ql, 0, 1, 1), (cb, qc, 1, 1, 1), (cr, qc, 1, 1, 1),
                     (inv[:, :, 3], ql, 0, 1, 1)]
        else:
            chans = [(inv[:, :, i], ql, 0, 1, 1) for i in range(4)]
    elif nc == 3:
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + level
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + level
        if subsample:
            # 2x2 mean chroma (pad odd dims by edge replication first)
            def down2(p):
                if h % 2:
                    p = np.vstack([p, p[-1:]])
                if w % 2:
                    p = np.hstack([p, p[:, -1:]])
                return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0

            chans = [(y, ql, 0, 2, 2), (down2(cb), qc, 1, 1, 1), (down2(cr), qc, 1, 1, 1)]
        else:
            chans = [(y, ql, 0, 1, 1), (cb, qc, 1, 1, 1), (cr, qc, 1, 1, 1)]
    else:
        chans = [(px[:, :, 0].astype(np.float64), ql, 0, 1, 1)]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    if nc == 4:
        # Adobe APP14 (TN #5116): 'Adobe', version 100, flags, transform
        out += seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, adobe_transform))
    has_chroma = any(ch[2] for ch in chans)
    for tq, q in ((0, ql), (1, qc))[: 2 if has_chroma else 1]:
        if precision == 12:
            zz = q.reshape(-1)[_ZIGZAG].astype(">u2")
            out += seg(0xDB, bytes([0x10 | tq]) + zz.tobytes())
        else:
            zz = q.reshape(-1)[_ZIGZAG].astype(np.uint8)
            out += seg(0xDB, bytes([tq]) + zz.tobytes())
    comp_spec = b"".join(
        bytes([i + 1, (ch[3] << 4) | ch[4], 1 if ch[2] else 0]) for i, ch in enumerate(chans)
    )
    sof_marker = 0xC2 if progressive else (0xC1 if precision == 12 else 0xC0)
    out += seg(sof_marker, struct.pack(">BHHB", precision, h, w, nc) + comp_spec)
    if precision == 12:  # extended alphabet; one table pair serves all comps
        tables = ((_DC_EXT, 0x00), (_AC_EXT, 0x10)) + (
            ((_DC_EXT, 0x01), (_AC_EXT, 0x11)) if has_chroma else ()
        )
    else:
        tables = ((_DC_LUMA, 0x00), (_AC_LUMA, 0x10)) + (
            ((_DC_CHROMA, 0x01), (_AC_CHROMA, 0x11)) if has_chroma else ()
        )
    for (counts, symbols), tcth in tables:
        out += seg(0xC4, bytes([tcth]) + bytes(counts) + bytes(symbols))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    if precision == 12:
        dc_l = dc_c = _encode_codes(*_DC_EXT)
        ac_l = ac_c = _encode_codes(*_AC_EXT)
    else:
        dc_l, ac_l = _encode_codes(*_DC_LUMA), _encode_codes(*_AC_LUMA)
        dc_c, ac_c = _encode_codes(*_DC_CHROMA), _encode_codes(*_AC_CHROMA)
    hmax = max(ch[3] for ch in chans)
    vmax = max(ch[4] for ch in chans)
    mcus_y = -(-h // (8 * vmax))
    mcus_x = -(-w // (8 * hmax))

    class _ScanWriter:
        """Entropy bytes for one scan with RSTn handling between units."""

        def __init__(self) -> None:
            self.bytes = bytearray()
            self.bw = _BitWriter()
            self.rst_n = 0

        def restart(self) -> None:
            self.bw.flush()
            self.bytes += bytes(self.bw.out) + bytes([0xFF, 0xD0 + self.rst_n])
            self.rst_n = (self.rst_n + 1) % 8
            self.bw = _BitWriter()

        def finish(self) -> bytes:
            self.bw.flush()
            return bytes(self.bytes + self.bw.out)

    if not progressive:
        out += seg(
            0xDA,
            bytes([nc])
            + b"".join(bytes([i + 1, 0x11 if ch[2] else 0x00]) for i, ch in enumerate(chans))
            + b"\x00\x3f\x00",
        )
        sw = _ScanWriter()
        preds = [0] * nc
        mcu_count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    sw.restart()
                    preds = [0] * nc
                for ci, (plane, q, is_chroma, ch_h, ch_v) in enumerate(chans):
                    for by in range(ch_v):
                        for bx in range(ch_h):
                            ys = (my * ch_v + by) * 8
                            xs = (mx * ch_h + bx) * 8
                            preds[ci] = _encode_block(
                                sw.bw,
                                _pad_block(plane, ys, xs),
                                q,
                                dc_c if is_chroma else dc_l,
                                ac_c if is_chroma else ac_l,
                                preds[ci],
                                level,
                            )
                mcu_count += 1
        return out + sw.finish() + b"\xff\xd9"

    # progressive: precompute quantized coefficients on the MCU-padded grid,
    # then entropy-code scan by scan (DC interleaved, AC per component);
    # with sa_levels=1 the first scans carry the high bits (Al=1) and a
    # refinement pass (Ah=1, Al=0) delivers the low bit of every
    # coefficient — full T.81 successive approximation
    if sa_levels not in (0, 1):
        raise NotImplementedError("JPEG encode: sa_levels must be 0 or 1")
    al0 = sa_levels
    zz_all = []
    for plane, q, _, ch_h, ch_v in chans:
        arr = np.zeros((mcus_y * ch_v, mcus_x * ch_h, 64), dtype=np.int64)
        for by in range(arr.shape[0]):
            for bx in range(arr.shape[1]):
                arr[by, bx] = _block_zz(plane, by * 8, bx * 8, q)
        zz_all.append(arr)

    def dc_scan(ah: int, al: int) -> bytes:
        """Interleaved DC scan: first (Ah=0; diffs of dc >> Al, the
        arithmetic-shift DC point transform) or refinement (one low bit
        per block)."""
        body = bytes([nc]) + b"".join(
            bytes([i + 1, 0x10 if ch[2] else 0x00]) for i, ch in enumerate(chans)
        ) + bytes([0, 0, (ah << 4) | al])
        sw = _ScanWriter()
        preds = [0] * nc
        mcu_count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    sw.restart()
                    preds = [0] * nc
                for ci, (_, _, is_chroma, ch_h, ch_v) in enumerate(chans):
                    for by in range(ch_v):
                        for bx in range(ch_h):
                            dc = int(zz_all[ci][my * ch_v + by, mx * ch_h + bx, 0])
                            if ah == 0:
                                preds[ci] = _emit_dc(
                                    sw.bw, dc >> al, preds[ci],
                                    dc_c if is_chroma else dc_l,
                                )
                            else:
                                sw.bw.bits((dc >> al) & 1, 1)
                mcu_count += 1
        return seg(0xDA, body) + sw.finish()

    def ac_scan(ci: int, ah: int, al: int) -> bytes:
        """Per-component AC scan over the component's own
        (non-MCU-padded) block raster per T.81 non-interleaved
        geometry: first (Ah=0) or successive-approximation refinement."""
        plane, _, is_chroma, _, _ = chans[ci]
        body = bytes([1, ci + 1, 0x00 if not is_chroma else 0x11]) + bytes(
            [1, 63, (ah << 4) | al]
        )
        nby = -(-plane.shape[0] // 8)
        nbx = -(-plane.shape[1] // 8)
        sw = _ScanWriter()
        codes = ac_c if is_chroma else ac_l
        for u in range(nby * nbx):
            if restart_interval and u and u % restart_interval == 0:
                sw.restart()
            by, bx = divmod(u, nbx)
            if ah == 0:
                _emit_ac(sw.bw, zz_all[ci][by, bx], codes, al=al)
            else:
                _emit_ac_refine(sw.bw, zz_all[ci][by, bx], codes, al=al)
        return seg(0xDA, body) + sw.finish()

    out += dc_scan(0, al0)
    for ci in range(nc):
        out += ac_scan(ci, 0, al0)
    if sa_levels:
        out += dc_scan(1, 0)
        for ci in range(nc):
            out += ac_scan(ci, 1, 0)
    return out + b"\xff\xd9"
