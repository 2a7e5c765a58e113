"""JPEG codec — pure numpy, from the public spec (ITU T.81).

Closes the "JPEG needs external codec libs" gap for the subset a
training-data pipeline actually meets most often:

* ``encode_jpeg``: 8-bit RGB/grayscale -> baseline JFIF (SOF0),
  4:4:4 or 4:2:0 (MCU-interleaved per T.81 A.2.3), optional restart
  intervals (DRI + RSTn), Annex-K quantization tables scaled by the
  usual quality curve, Annex-K Huffman tables (embedded in DHT
  segments, so any compliant decoder reads them from the file).
* ``encode_jpeg_progressive``: the same quantized coefficients
  serialized as a PROGRESSIVE stream (SOF2, T.81 Annex G) with a
  libjpeg-style scan script — spectral selection AND successive
  approximation, so every progressive decode path is exercised.
* ``encode_jpeg_planar``: the same quantized coefficients as one
  non-interleaved baseline scan PER COMPONENT — the differential pin
  for multi-scan baseline decode.
* ``encode_jpeg_extended``: SOF1 extended sequential at 12-bit (or
  8-bit) sample precision with 16-bit DQT entries — the test vector
  source for the precision axis.
* ``decode_jpeg``: baseline/extended sequential OR progressive JFIF
  -> uint8 array: any integer-ratio sampling factors (4:4:4, 4:2:0,
  4:2:2, ...), with or without restart intervals, baseline
  multi-scan (planar, component-subset scans), multi-scan SOF2 with
  DC/AC first + refinement scans and EOB-run coding, 8- and 12-bit
  sample precision (12-bit reconstructions are presented as
  floor(x / 16) on the uniform uint8 schema), 8- and 16-bit DQT —
  the common wild-JPEG shapes. Tables are read from the stream;
  arithmetic-coded, hierarchical, and lossless streams raise
  ``NotImplementedError`` with the exact reason — the honest
  boundary of this from-scratch decoder, not a silent wrong answer.

Everything here is derived from the published standard (marker
structure, zigzag order, DCT-II/III with orthonormal scaling, JFIF
YCbCr matrices, category/amplitude entropy coding); no external
codec library is involved. The DCT runs vectorized over all blocks
(one einsum per component); entropy coding is per-symbol Python —
fine for the executor-side Arrow batches this feeds
(operators/multimodal.py), where payloads are small images.
"""

from __future__ import annotations

import numpy as np

# ---- zigzag order (T.81 figure A.6) -------------------------------------
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])
UNZIGZAG = np.argsort(ZIGZAG)

# ---- Annex K quantization tables ----------------------------------------
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99]).reshape(8, 8)
QUANT_CHROM = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32).reshape(8, 8)

# ---- Annex K Huffman specs (BITS per code length 1..16, then values) ----
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: forward D = A @ B @ A.T,
    inverse B = A.T @ D @ A."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16)
    return a

_A = _dct_matrix()


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """The usual quality curve over the Annex-K base tables."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., 0].astype(np.float64),
               img[..., 1].astype(np.float64),
               img[..., 2].astype(np.float64))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255) \
        .astype(np.uint8)


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """symbol -> (code, length), canonical assignment per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body


def _encode_block(bw: "_BitWriter", zz: np.ndarray, prev_dc: int,
                  dc_code: dict, ac_code: dict) -> int:
    """Entropy-encode one zigzag-ordered quantized block; returns the
    block's DC value (the caller's next predictor)."""
    diff = int(zz[0]) - prev_dc
    size = _category(diff)
    code, length = dc_code[size]
    bw.write(code, length)
    bw.write(_amplitude(diff, size), size)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    last = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_code[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size = _category(v)
        code, length = ac_code[(run << 4) | size]
        bw.write(code, length)
        bw.write(_amplitude(v, size), size)
        run = 0
    if last < 63:
        code, length = ac_code[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _grid_blocks(plane: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Pad a component plane by edge replication to exactly
    (rows*8, cols*8) and return (rows, cols, 8, 8) blocks."""
    h, w = plane.shape
    padded = np.pad(plane, ((0, rows * 8 - h), (0, cols * 8 - w)),
                    mode="edge")
    return (padded.reshape(rows, 8, cols, 8).transpose(0, 2, 1, 3))


def _quantize_image(img: np.ndarray, quality: int, subsampling: str):
    """Shared front half of both encoders: color transform,
    subsampling, blockwise DCT + quantization. Returns
    (h, w, nc, samps, qtabs, quantized, mcus_x, mcus_y) where
    ``quantized[ci]`` is the (rows, cols, 8, 8) int32 coefficient
    grid in natural order — the progressive encoder serializes the
    SAME coefficients as the baseline one, so progressive decode must
    reproduce baseline decode's pixels exactly (the differential pin
    in tests)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        samps = [(1, 1)]
    elif ch == 3:
        ycc = _rgb_to_ycbcr(img)
        if subsampling == "444":
            planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
            samps = [(1, 1), (1, 1), (1, 1)]
        elif subsampling == "420":
            y = ycc[..., 0]
            # box-average 2x2 after edge-padding to even dims — the
            # standard decimation filter
            ph, pw = -h % 2, -w % 2
            ycc_p = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
            sub = ycc_p.reshape(ycc_p.shape[0] // 2, 2,
                                ycc_p.shape[1] // 2, 2, 3).mean((1, 3))
            planes = [y, sub[..., 1], sub[..., 2]]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r} "
                             "(444 or 420)")
    else:
        raise ValueError(f"unsupported channel count {ch}")
    nc = len(planes)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    qlum = _scaled_quant(QUANT_LUM, quality)
    qchrom = _scaled_quant(QUANT_CHROM, quality)
    qtabs = [qlum] + ([qchrom] if ch == 3 else [])

    # forward DCT + quantize, vectorized per component, kept as a
    # (rows, cols) block grid for MCU-order traversal
    quantized = []
    for ci, plane in enumerate(planes):
        hi, vi = samps[ci]
        rows, cols = mcus_y * vi, mcus_x * hi
        blocks = _grid_blocks(plane, rows, cols) - 128.0
        coef = np.einsum("ux,rcxy,vy->rcuv", _A, blocks, _A)
        q = qtabs[min(ci, 1)].astype(np.float64)
        quantized.append(np.round(coef / q).astype(np.int32))
    return h, w, nc, samps, qtabs, quantized, mcus_x, mcus_y


def _frame_headers(h, w, nc, samps, qtabs, sof_marker: int) -> bytearray:
    """SOI + APP0 + DQT + SOF — shared by both encoders (the SOF
    marker byte is the only difference: 0xC0 baseline, 0xC2
    progressive)."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += (b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"
            b"\x00\x01\x00\x01\x00\x00")  # APP0
    for qi, q in enumerate(qtabs):  # DQT
        body = bytes([qi]) + bytes(int(x) for x in
                                   q.reshape(64)[ZIGZAG])
        out += b"\xff\xdb" + (len(body) + 2).to_bytes(2, "big") + body
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([nc])
    for ci in range(nc):
        hi, vi = samps[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, min(ci, 1)])
    out += bytes([0xFF, sof_marker]) \
        + (len(sof) + 2).to_bytes(2, "big") + sof
    return out


def encode_jpeg(img: np.ndarray, quality: int = 85,
                subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) RGB or (h, w)/(h, w, 1) grayscale uint8 -> baseline
    JFIF bytes (SOF0, Annex-K tables).

    ``subsampling``: "444" (default, every component 1x1) or "420"
    (Y at 2x2, chroma box-averaged 2:1 both axes and interleaved in
    MCU order per T.81 A.2.3 — the most common wild-JPEG shape).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every that many MCUs (T.81 B.2.4.4 / E.1.4), resetting the DC
    predictors — what real encoders emit for error resilience."""
    (h, w, nc, samps, qtabs, quantized,
     mcus_x, mcus_y) = _quantize_image(img, quality, subsampling)

    dc_codes = [_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
                _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)]
    ac_codes = [_canonical_codes(AC_LUM_BITS, AC_LUM_VALS),
                _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)]

    bw = _BitWriter()
    prev_dc = [0] * nc
    rst_idx = 0
    since_rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and since_rst == restart_interval:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
                rst_idx += 1
                since_rst = 0
                prev_dc = [0] * nc
            for ci in range(nc):
                t = min(ci, 1)
                hi, vi = samps[ci]
                for v in range(vi):
                    for hh in range(hi):
                        zz = (quantized[ci][my * vi + v, mx * hi + hh]
                              .reshape(64)[ZIGZAG])
                        prev_dc[ci] = _encode_block(
                            bw, zz, prev_dc[ci],
                            dc_codes[t], ac_codes[t])
            since_rst += 1
    bw.flush()

    out = _frame_headers(h, w, nc, samps, qtabs, 0xC0)
    out += _dht_segment(0x00, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_segment(0x10, AC_LUM_BITS, AC_LUM_VALS)
    if nc == 3:
        out += _dht_segment(0x01, DC_CHROM_BITS, DC_CHROM_VALS)
        out += _dht_segment(0x11, AC_CHROM_BITS, AC_CHROM_VALS)
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    sos = bytes([nc])
    for ci in range(nc):
        t = min(ci, 1)
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_planar(img: np.ndarray, quality: int = 85,
                       subsampling: str = "444",
                       restart_interval: int = 0) -> bytes:
    """Baseline MULTI-SCAN JFIF: the same quantized coefficients as
    ``encode_jpeg`` serialized as one NON-INTERLEAVED scan per
    component (T.81 A.2.2) — the differential pin for multi-scan
    baseline decode (decode(planar(x)) must equal
    decode(baseline(x)) bit-for-bit). ``restart_interval`` counts
    DATA UNITS here (non-interleaved scans have no MCUs); the RSTn
    sequence restarts at RST0 within each scan, per-scan DC reset."""
    (h, w, nc, samps, qtabs, quantized,
     mcus_x, mcus_y) = _quantize_image(img, quality, subsampling)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)

    dc_codes = [_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
                _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)]
    ac_codes = [_canonical_codes(AC_LUM_BITS, AC_LUM_VALS),
                _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)]

    out = _frame_headers(h, w, nc, samps, qtabs, 0xC0)
    out += _dht_segment(0x00, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_segment(0x10, AC_LUM_BITS, AC_LUM_VALS)
    if nc == 3:
        out += _dht_segment(0x01, DC_CHROM_BITS, DC_CHROM_VALS)
        out += _dht_segment(0x11, AC_CHROM_BITS, AC_CHROM_VALS)
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    for ci in range(nc):
        t = min(ci, 1)
        hi, vi = samps[ci]
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        bw = _BitWriter()
        prev = 0
        rst_idx = 0
        since = 0
        for by in range(-(-chh // 8)):
            for bx in range(-(-cw // 8)):
                if restart_interval and since == restart_interval:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
                    rst_idx += 1
                    since = 0
                    prev = 0
                zz = quantized[ci][by, bx].reshape(64)[ZIGZAG]
                prev = _encode_block(bw, zz, prev,
                                     dc_codes[t], ac_codes[t])
                since += 1
        bw.flush()
        sos = bytes([1, ci + 1, (t << 4) | t, 0, 63, 0])
        out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
        out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


#: DC table for the 12-bit extended encoder: 12-bit DPCM differences
#: span size categories 0..15, beyond the Annex-K DC tables' 0..11 —
#: the simplest complete code is all 16 symbols at 5 bits (the
#: all-ones 5-bit code stays unused per the T.81 convention).
DC_EXTENDED_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
DC_EXTENDED_VALS = list(range(16))


def encode_jpeg_extended(img: np.ndarray, quality: int = 85,
                         precision: int = 12) -> bytes:
    """(h, w) grayscale or (h, w, 3) RGB uint16 samples in
    [0, 2**precision) -> EXTENDED SEQUENTIAL JFIF bytes (SOF1,
    T.81 B.2.2): 12-bit sample precision, 16-bit DQT entries
    (Pq=1), and Huffman tables covering the wider size categories
    (DC 0..15 via DC_EXTENDED, AC sizes to 14 via AC_UNIVERSAL).
    4:4:4 only — the subsampled shapes are pinned by the baseline
    encoders; this one exists to exercise the precision axis.

    The quant tables are the Annex-K quality curve scaled by
    2**(precision-8), the usual step-scaling for deeper samples."""
    if precision not in (8, 12):
        raise ValueError("extended sequential precision must be 8 "
                         "or 12 (T.81 B.2.2)")
    half = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    arr = img.astype(np.float64)
    if arr.min() < 0 or arr.max() > maxv:
        raise ValueError(f"samples out of [0, {maxv}]")
    if ch == 1:
        planes = [arr[:, :, 0]]
    elif ch == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = half - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = half + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    else:
        raise ValueError(f"unsupported channel count {ch}")
    nc = len(planes)
    shift = 1 << (precision - 8)
    qtabs = [np.clip(_scaled_quant(QUANT_LUM, quality) * shift,
                     1, 65535)]
    if nc == 3:
        qtabs.append(np.clip(_scaled_quant(QUANT_CHROM, quality)
                             * shift, 1, 65535))
    mcus_x, mcus_y = -(-w // 8), -(-h // 8)
    quantized = []
    for ci, plane in enumerate(planes):
        blocks = _grid_blocks(plane, mcus_y, mcus_x) - half
        coef = np.einsum("ux,rcxy,vy->rcuv", _A, blocks, _A)
        q = qtabs[min(ci, 1)].astype(np.float64)
        quantized.append(np.round(coef / q).astype(np.int32))

    dc_code = _canonical_codes(DC_EXTENDED_BITS, DC_EXTENDED_VALS)
    ac_code = _canonical_codes(AC_UNIVERSAL_BITS, AC_UNIVERSAL_VALS)
    bw = _BitWriter()
    prev_dc = [0] * nc
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nc):
                zz = quantized[ci][my, mx].reshape(64)[ZIGZAG]
                prev_dc[ci] = _encode_block(bw, zz, prev_dc[ci],
                                            dc_code, ac_code)
    bw.flush()

    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"
            b"\x00\x01\x00\x01\x00\x00")
    for qi, q in enumerate(qtabs):  # 16-bit DQT (Pq=1)
        body = bytes([0x10 | qi])
        for x in q.reshape(64)[ZIGZAG]:
            body += int(x).to_bytes(2, "big")
        out += b"\xff\xdb" + (len(body) + 2).to_bytes(2, "big") + body
    sof = bytes([precision]) + h.to_bytes(2, "big") \
        + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, min(ci, 1)])
    out += b"\xff\xc1" + (len(sof) + 2).to_bytes(2, "big") + sof
    out += _dht_segment(0x00, DC_EXTENDED_BITS, DC_EXTENDED_VALS)
    out += _dht_segment(0x10, AC_UNIVERSAL_BITS, AC_UNIVERSAL_VALS)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


#: Universal AC table for the progressive encoder: progressive scans
#: emit EOBRUN symbols (nbits<<4, size=0, run 1..14) that the Annex-K
#: AC tables simply do not contain — real encoders compute optimal
#: per-scan tables for exactly this reason. This one is the simplest
#: COMPLETE spec-valid code instead: symbols 0x00..0xFE at 8 bits,
#: 0xFF (never emitted) at 9, leaving the all-ones 9-bit code unused
#: per the T.81 convention. Non-optimal by design (tests, not
#: compression ratio).
AC_UNIVERSAL_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
AC_UNIVERSAL_VALS = list(range(256))


class _ProgWriter(_BitWriter):
    """_BitWriter plus the progressive AC-scan bookkeeping (T.81
    G.1.2.2 / G.1.2.3 encoder side): a pending EOB run with the
    correction bits buffered BEHIND it (emitted right after the
    EOBRUN symbol — the decoder's eob-run tail consumes them there),
    and the current block's run correction bits (emitted after the
    next ZRL / newly-nonzero symbol — the decoder's advance loop
    consumes them there). The two buffers are ordering-distinct:
    folding them together emits run bits before their symbol and
    desynchronizes the decoder."""

    def __init__(self, ac_code):
        super().__init__()
        self.ac_code = ac_code
        self.eobrun = 0
        self.behind_eob: list[int] = []  # BE: bits behind the EOB run
        self.run_bits: list[int] = []    # BR: bits in the current run

    def sym(self, s: int) -> None:
        code, length = self.ac_code[s]
        self.write(code, length)

    def flush_run_bits(self) -> None:
        for b in self.run_bits:
            self.write(b, 1)
        self.run_bits = []

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for b in self.behind_eob:
            self.write(b, 1)
        self.behind_eob = []


def _prog_encode_dc_first(bw, unit_iter, quantized, samps, al,
                          dc_codes, restart_interval, reset):
    """DC first scan: point-transformed (arithmetic >> al, T.81
    G.1.2.1) DC values, DPCM-coded with the standard DC tables."""
    prev = {}
    for n_unit, ci, by, bx in unit_iter:
        if restart_interval and n_unit and \
                n_unit % restart_interval == 0 and ci == -1:
            reset(bw)
            prev = {}
        if ci < 0:
            continue
        v = int(quantized[ci][by, bx, 0, 0]) >> al
        diff = v - prev.get(ci, 0)
        prev[ci] = v
        size = _category(diff)
        code, length = dc_codes[min(ci, 1)][size]
        bw.write(code, length)
        if size:
            bw.write(_amplitude(diff, size), size)


def _prog_encode_dc_refine(bw, unit_iter, quantized, al,
                           restart_interval, reset):
    """DC refinement: one raw bit per data unit (no entropy table)."""
    for n_unit, ci, by, bx in unit_iter:
        if restart_interval and n_unit and \
                n_unit % restart_interval == 0 and ci == -1:
            reset(bw)
        if ci < 0:
            continue
        bw.write((int(quantized[ci][by, bx, 0, 0]) >> al) & 1, 1)


def _prog_encode_ac_first(bw, blocks, ss, se, al, restart_interval,
                          reset):
    """AC first scan over one component's blocks (non-interleaved by
    spec): spectral band ss..se, successive-approximation low bit al,
    zero-run/EOB-run coding per T.81 G.1.2.2."""
    for bi, zz in enumerate(blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            bw.flush_eobrun()
            reset(bw)
        run = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            # AC point transform: |v| >> al with the sign reapplied
            # (truncation toward zero, T.81 G.1.2.2 — an arithmetic
            # shift of the signed value would floor instead)
            v = (abs(v) >> al) * (1 if v >= 0 else -1)
            if v == 0:
                run += 1
                continue
            bw.flush_eobrun()
            while run > 15:
                bw.sym(0xF0)  # ZRL
                run -= 16
            size = _category(v)
            bw.sym((run << 4) | size)
            bw.write(_amplitude(v, size), size)
            run = 0
        if run > 0:
            bw.eobrun += 1
            if bw.eobrun == 0x7FFF:
                bw.flush_eobrun()


def _prog_encode_ac_refine(bw, blocks, ss, se, al, restart_interval,
                           reset):
    """AC refinement scan (T.81 G.1.2.3, the libjpeg-documented
    algorithm): previously-nonzero coefficients contribute one
    correction bit each (buffered behind any pending EOB run);
    newly-nonzero ones are coded as (zero-history-run, 1) + sign."""
    for bi, zz in enumerate(blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            bw.flush_eobrun()
            reset(bw)
        absval = [(abs(int(zz[k])) >> al) for k in range(ss, se + 1)]
        eob = 0  # band index just past the last NEWLY-nonzero coef
        for i, a in enumerate(absval):
            if a == 1:
                eob = i + 1
        run = 0
        for i, a in enumerate(absval):
            if a == 0:
                run += 1
                continue
            # ZRLs only while a newly-nonzero coefficient still
            # follows — trailing zero runs fold into the EOB run
            while run > 15 and i < eob:
                bw.flush_eobrun()
                bw.sym(0xF0)
                run -= 16
                bw.flush_run_bits()
            if a > 1:
                # history coefficient: one correction bit, consumed
                # by the decoder's advance loop (after the next
                # symbol) or by its eob-run tail (after the EOBRUN
                # symbol) — buffer it until either flush point
                bw.run_bits.append(a & 1)
                continue
            bw.flush_eobrun()
            bw.sym((run << 4) | 1)
            bw.write(1 if int(zz[ss + i]) >= 0 else 0, 1)
            bw.flush_run_bits()
            run = 0
        if run > 0 or bw.run_bits:
            bw.eobrun += 1
            bw.behind_eob.extend(bw.run_bits)
            bw.run_bits = []
            if bw.eobrun == 0x7FFF or len(bw.behind_eob) > 900:
                bw.flush_eobrun()


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85,
                            subsampling: str = "444",
                            restart_interval: int = 0) -> bytes:
    """(h, w, 3) RGB or (h, w)/(h, w, 1) grayscale uint8 ->
    PROGRESSIVE JFIF bytes (SOF2, T.81 Annex G): the libjpeg-style
    scan script with both spectral selection and successive
    approximation, so every decoder path (DC first/refine, AC
    first/refine, EOB runs, non-interleaved component walks) is
    exercised. Serializes the IDENTICAL quantized coefficients as
    ``encode_jpeg`` — progressive decode therefore reproduces
    baseline decode's pixels exactly (the differential test pin)."""
    (h, w, nc, samps, qtabs, quantized,
     mcus_x, mcus_y) = _quantize_image(img, quality, subsampling)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)

    # libjpeg's standard progression (jcparam.c shape): DC of every
    # component at Al=1 then refined, luma AC split 1-5/6-63 at Al=2
    # with two refinement passes, chroma AC in one band at Al=1 + one
    # refinement. (comps, ss, se, ah, al)
    if nc == 3:
        script = [
            ([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
            ([0], 6, 63, 0, 2), ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0), ([0], 1, 63, 1, 0),
        ]
    else:
        script = [
            ([0], 0, 0, 0, 1),
            ([0], 1, 63, 0, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]

    dc_codes = [_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
                _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)]
    ac_code = _canonical_codes(AC_UNIVERSAL_BITS, AC_UNIVERSAL_VALS)

    def dc_units(comp_ids):
        """Interleaved MCU walk (T.81 A.2.3) yielding
        (mcu_index, ci, block_row, block_col); a (mcu_index, -1, ...)
        sentinel leads each MCU so the restart check runs once per
        MCU. A single-component scan is non-interleaved: the walk is
        that component's own block grid and sampling does not apply."""
        if len(comp_ids) > 1:
            for mi in range(mcus_x * mcus_y):
                my, mx = divmod(mi, mcus_x)
                yield mi, -1, 0, 0
                for ci in comp_ids:
                    hi, vi = samps[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            yield mi, ci, my * vi + v, mx * hi + hh
        else:
            ci = comp_ids[0]
            for n, (by, bx) in enumerate(_comp_block_walk(
                    ci, h, w, samps, hmax, vmax, nc)):
                yield n, -1, 0, 0
                yield n, ci, by, bx

    def comp_blocks(ci):
        return [quantized[ci][by, bx].reshape(64)[ZIGZAG]
                for by, bx in _comp_block_walk(ci, h, w, samps,
                                               hmax, vmax, nc)]

    out = _frame_headers(h, w, nc, samps, qtabs, 0xC2)
    out += _dht_segment(0x00, DC_LUM_BITS, DC_LUM_VALS)
    if nc == 3:
        out += _dht_segment(0x01, DC_CHROM_BITS, DC_CHROM_VALS)
    out += _dht_segment(0x10, AC_UNIVERSAL_BITS,
                        bytes(AC_UNIVERSAL_VALS))
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")

    for comp_ids, ss, se, ah, al in script:
        bw = _ProgWriter(ac_code)
        rst_idx = 0

        def reset(bw, _state=None):
            nonlocal rst_idx
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (rst_idx % 8)])
            rst_idx += 1

        if ss == 0:
            if ah == 0:
                _prog_encode_dc_first(bw, dc_units(comp_ids),
                                      quantized, samps, al, dc_codes,
                                      restart_interval, reset)
            else:
                _prog_encode_dc_refine(bw, dc_units(comp_ids),
                                       quantized, al,
                                       restart_interval, reset)
        else:
            blocks = comp_blocks(comp_ids[0])
            if ah == 0:
                _prog_encode_ac_first(bw, blocks, ss, se, al,
                                      restart_interval, reset)
            else:
                _prog_encode_ac_refine(bw, blocks, ss, se, al,
                                       restart_interval, reset)
            bw.flush_eobrun()
        bw.flush()
        sos = bytes([len(comp_ids)])
        for ci in comp_ids:
            # DC scans reference the per-component DC table; AC scans
            # the universal AC table (DC refinement reads no table
            # but the slot byte is still required)
            sos += bytes([ci + 1, (min(ci, 1) << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
        out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _comp_block_walk(ci, h, w, samps, hmax, vmax, nc):
    """Row-major (block_row, block_col) walk of ONE component's
    non-interleaved block grid: ceil(comp_dim/8) per axis over the
    component's true dimensions (T.81 A.2.2) — NOT the MCU-padded
    grid; MCU padding blocks are never coded in a non-interleaved
    scan."""
    hi, vi = samps[ci] if nc > 1 else (1, 1)
    cw = -(-w * hi // hmax)
    chh = -(-h * vi // vmax)
    for by in range(-(-chh // 8)):
        for bx in range(-(-cw // 8)):
            yield by, bx


class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise EOFError("entropy stream exhausted")
        self.acc = (self.acc << 8) | self.data[self.pos]
        self.pos += 1
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _decode_table(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _prog_unit_walk(scan_cids, comps, idx_of, mcus_x, mcus_y,
                    h, w, hmax, vmax):
    """Yield (unit, ci, bi) for a progressive scan: ``unit`` is the
    restart-counting granularity (MCU for an interleaved scan, block
    for a non-interleaved one — T.81 A.2.2/A.2.3), ``bi`` the
    row-major index into the component's MCU-padded grid. A
    non-interleaved walk covers only ceil(comp_dim/8) blocks per
    axis: MCU padding blocks are never coded there."""
    if len(scan_cids) > 1:
        for mi in range(mcus_x * mcus_y):
            my, mx = divmod(mi, mcus_x)
            for cid in scan_cids:
                ci = idx_of[cid]
                _c, hi, vi, _t = comps[ci]
                cols = mcus_x * hi
                for v in range(vi):
                    for hh in range(hi):
                        yield mi, ci, (my * vi + v) * cols \
                            + (mx * hi + hh)
    else:
        ci = idx_of[scan_cids[0]]
        _c, hi, vi, _t = comps[ci]
        cols = mcus_x * hi
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        n = 0
        for by in range(-(-chh // 8)):
            for bx in range(-(-cw // 8)):
                yield n, ci, by * cols + bx
                n += 1


class _SegmentCursor:
    """Restart-segment state for one progressive scan: hands out the
    current _BitReader and advances (validating the RSTn sequence)
    at each restart boundary."""

    __slots__ = ("segments", "rst_ids", "seg", "reader")

    def __init__(self, segments, rst_ids, ri):
        if len(segments) > 1 and not ri:
            raise ValueError("RST markers present but no DRI segment")
        self.segments = segments
        self.rst_ids = rst_ids
        self.seg = 0
        self.reader = _BitReader(segments[0])

    def restart(self):
        if self.seg >= len(self.rst_ids):
            raise ValueError("entropy stream ended before all data "
                             "units (missing RST marker)")
        if self.rst_ids[self.seg] != self.seg % 8:
            raise ValueError(
                f"RST marker out of sequence: got RST"
                f"{self.rst_ids[self.seg]}, expected RST{self.seg % 8}")
        self.seg += 1
        self.reader = _BitReader(self.segments[self.seg])


def _prog_ac_first_block(reader, table, zz, ss, se, al, eobrun):
    """One block of an AC first scan (T.81 G.2.2): returns the
    remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(reader, table)
        run, size = sym >> 4, sym & 0xF
        if size == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += reader.bits(run)
            return eobrun
        k += run
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = _extend(reader.bits(size), size) << al
        k += 1
    return 0


def _prog_ac_refine_block(reader, table, zz, ss, se, al, eobrun):
    """One block of an AC refinement scan (T.81 G.2.2 / the
    algorithm libjpeg documents as decode_mcu_AC_refine): newly
    nonzero coefficients arrive as (zero-history-run, 1) + sign;
    already-nonzero coefficients passed over — by the advance loop,
    a ZRL, or the EOB-run tail — each consume one correction bit.
    Returns the remaining EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(reader, table)
            run, size = sym >> 4, sym & 0xF
            newval = 0
            if size == 0:
                if run != 15:  # EOB run starts here
                    # FULL count (unlike a first scan): the current
                    # block is the run's first member and its
                    # remaining correction bits are consumed by the
                    # tail below, which also decrements the run
                    eobrun = 1 << run
                    if run:
                        eobrun += reader.bits(run)
                    break
                # ZRL: fall through and skip 16 zero-history coefs
            else:
                if size != 1:
                    raise ValueError(
                        "invalid AC refinement symbol (size != 1)")
                newval = p1 if reader.bit() else m1
            while k <= se:
                coef = int(zz[k])
                if coef != 0:
                    if reader.bit() and (coef & p1) == 0:
                        zz[k] = coef + (p1 if coef >= 0 else m1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past band end")
                zz[k] = newval
            k += 1
    if eobrun > 0:
        # this block's tail: correction bits for every remaining
        # nonzero-history coefficient in the band
        while k <= se:
            coef = int(zz[k])
            if coef != 0:
                if reader.bit() and (coef & p1) == 0:
                    zz[k] = coef + (p1 if coef >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scans(scans, comps, grids, mcus_x, mcus_y,
                              h, w, hmax, vmax):
    """Apply every scan of a progressive (SOF2) stream to the zigzag
    coefficient grids (T.81 Annex G): DC scans carry the
    point-transformed DC (first pass DPCM, refinements one raw bit),
    AC scans one spectral band of one component with EOB-run coding
    and successive-approximation refinement."""
    nc = len(comps)
    idx_of = {c[0]: i for i, c in enumerate(comps)}
    for scan in scans:
        s_comps, ss, se = scan["comps"], scan["ss"], scan["se"]
        ah, al = scan["ah"], scan["al"]
        ri = scan["ri"]
        huff = scan["huff"]
        scan_cids = [cid for cid, _dc, _ac in s_comps]
        for cid in scan_cids:
            if cid not in idx_of:
                raise ValueError(f"scan references unknown component "
                                 f"{cid}")
        cur = _SegmentCursor(scan["segments"], scan["rst_ids"], ri)
        walk = _prog_unit_walk(scan_cids, comps, idx_of, mcus_x,
                               mcus_y, h, w, hmax, vmax)
        if ss == 0:
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            dc_table = {cid: dc_t for cid, dc_t, _ac in s_comps}
            prev = {}
            last_unit = -1
            for unit, ci, bi in walk:
                if unit != last_unit:
                    if ri and last_unit >= 0 and unit % ri == 0:
                        cur.restart()
                        prev = {}
                    last_unit = unit
                zz = grids[ci][bi]
                if ah == 0:
                    size = _read_symbol(
                        cur.reader, huff[(0, dc_table[comps[ci][0]])])
                    diff = _extend(cur.reader.bits(size), size) \
                        if size else 0
                    prev[ci] = prev.get(ci, 0) + diff
                    zz[0] = prev[ci] << al
                else:
                    zz[0] = int(zz[0]) | (cur.reader.bit() << al)
        else:
            if len(s_comps) != 1:
                raise ValueError(
                    "progressive AC scan must be single-component "
                    "(T.81 B.2.3)")
            if nc == 0 or se > 63 or ss > se:
                raise ValueError(f"invalid spectral band {ss}..{se}")
            table = huff.get((1, s_comps[0][2]))
            if table is None:
                raise ValueError("AC scan references undefined "
                                 f"Huffman table {s_comps[0][2]}")
            eobrun = 0
            for unit, ci, bi in walk:
                if ri and unit and unit % ri == 0:
                    cur.restart()
                    eobrun = 0
                zz = grids[ci][bi]
                if ah == 0:
                    eobrun = _prog_ac_first_block(
                        cur.reader, table, zz, ss, se, al, eobrun)
                else:
                    eobrun = _prog_ac_refine_block(
                        cur.reader, table, zz, ss, se, al, eobrun)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential (SOF0) or progressive (SOF2) JFIF ->
    (h, w, 3) RGB uint8 (grayscale replicates to 3 channels).
    Supported: 8-bit, any integer-ratio sampling factors (4:4:4,
    4:2:0, 4:2:2, ...), with or without restart intervals; baseline
    streams may be ONE interleaved scan or a sequence of
    component-subset scans (non-interleaved / planar — each
    component coded exactly once); for SOF2 the full multi-scan
    protocol — interleaved/non-interleaved DC first + refinement,
    per-component AC spectral bands with EOB-run coding and
    successive-approximation refinement (round-5 verdict item 4).
    Arithmetic coding, hierarchical, and 12-bit streams raise
    NotImplementedError naming the feature."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    sample_precision = 8
    progressive = False
    lossless = False
    scans: list[dict] = []
    restart_interval = 0
    dhp = None                      # hierarchical full-size header
    frames: list[dict] = []         # one entry per SOF (Annex J)
    pending_exp = (0, 0)            # EXP marker ahead of next frame
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        pos += 1
        # optional 0xFF fill bytes before a marker are LEGAL padding
        # (T.81 B.1.1.2) — skip them, else a spec-valid stream from
        # another encoder misparses here (advisory pin)
        while pos < len(payload) and payload[pos] == 0xFF:
            pos += 1
        if pos >= len(payload):
            raise ValueError("truncated JPEG: fill bytes at EOF")
        marker = payload[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        seglen = int.from_bytes(payload[pos:pos + 2], "big")
        body = payload[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq == 0:  # 8-bit entries (baseline)
                    tab = np.frombuffer(body[i + 1:i + 65],
                                        dtype=np.uint8).astype(np.int32)
                    i += 65
                elif pq == 1:  # 16-bit entries (extended, T.81 B.2.4.1)
                    tab = np.frombuffer(body[i + 1:i + 129],
                                        dtype=">u2").astype(np.int32)
                    i += 129
                else:
                    raise ValueError(f"invalid DQT precision Pq={pq}")
                qtabs[tq] = tab[UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                huff[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive (shared Huffman-DCT path; SOF1/SOF2 allow
            # 12-bit samples) / SOF3 LOSSLESS (predictor path,
            # precision 2..16 per T.81 B.2.3) / SOF5 DIFFERENTIAL
            # sequential (Annex J hierarchical residual frames)
            progressive = marker == 0xC2
            lossless = marker == 0xC3
            differential = marker == 0xC5
            if differential and dhp is None:
                raise ValueError(
                    "differential frame (SOF5) without a preceding "
                    "DHP header (T.81 Annex J)")
            precision = body[0]
            if lossless:
                if not 2 <= precision <= 16:
                    raise ValueError(
                        f"lossless precision {precision} out of "
                        "T.81's 2..16")
            elif precision == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 requires 8-bit "
                                 "precision (T.81 B.2.2)")
            elif precision not in (8, 12):
                raise NotImplementedError(
                    f"{precision}-bit precision (T.81 DCT modes "
                    "define 8 and 12 only)")
            sample_precision = precision
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            if h * w > 64_000_000:
                # allocation guard: the coefficient grids are
                # h*w*4B-ish per component — a corrupt/hostile SOF
                # header (dims are attacker-controlled bytes) must
                # fail loudly here, not as a worker-killing
                # MemoryError mid-decode
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed the 64-megapixel "
                    "decode guard (corrupt header or genuinely huge "
                    "image; raise the guard deliberately if the "
                    "latter)")
            nc = body[5]
            if nc not in (1, 3):
                # a 4-component (YCCK/CMYK Adobe) baseline stream
                # would otherwise pass every guard and then have the
                # YCbCr matrix applied to 3 of its 4 planes — a
                # silent wrong answer, against the module's
                # loud-refusal contract (advisory pin)
                raise NotImplementedError(
                    f"{nc}-component JPEG unsupported (grayscale or "
                    "YCbCr only; CMYK/YCCK not implemented)")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"invalid sampling factors "
                                     f"{hi}x{vi} for component {cid}")
                comps.append((cid, hi, vi, tq))
            sof = (h, w, comps)
            scans = []          # new frame: scans rebind, not shared
            frames.append({"sof": sof, "scans": scans,
                           "progressive": progressive,
                           "lossless": lossless,
                           "differential": differential,
                           "precision": precision,
                           "exp": pending_exp})
            pending_exp = (0, 0)
        elif marker == 0xDE:  # DHP — hierarchical progression header
            # same syntax as SOF; only the full dims matter here
            dhp = (int.from_bytes(body[1:3], "big"),
                   int.from_bytes(body[3:5], "big"))
        elif marker == 0xDF:  # EXP — expand reference before next frame
            pending_exp = (body[0] >> 4, body[0] & 0xF)
            if pending_exp not in ((0, 0), (0, 1), (1, 0), (1, 1)):
                raise ValueError(f"invalid EXP nibbles {pending_exp}")
        elif marker in (0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported SOF marker 0xFF{marker:02X} "
                "(arithmetic modes; differential progressive/"
                "lossless)")
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            scan_comps = []
            for ci in range(ns):
                cid, tabs = body[1 + 2 * ci], body[2 + 2 * ci]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            # de-stuff until EOI / next non-RST marker; RSTn markers
            # split the stream into SEGMENTS (decoded with fresh DC
            # predictors at byte boundaries, T.81 E.1.4)
            segments: list[bytes] = []
            rst_ids: list[int] = []
            data = bytearray()
            i = pos
            while i < len(payload) - 1:
                b = payload[i]
                if b == 0xFF:
                    nxt = payload[i + 1]
                    if nxt == 0x00:
                        data.append(0xFF)
                        i += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        segments.append(bytes(data))
                        rst_ids.append(nxt - 0xD0)
                        data = bytearray()
                        i += 2
                        continue
                    break  # real marker (EOI / next scan's header)
                data.append(b)
                i += 1
            segments.append(bytes(data))
            # DHT/DRI may be redefined between scans: snapshot the
            # table map (values are immutable once built) and the
            # restart interval as of THIS scan
            scans.append({"comps": scan_comps, "ss": ss, "se": se,
                          "ah": ah, "al": al, "segments": segments,
                          "rst_ids": rst_ids, "huff": dict(huff),
                          "ri": restart_interval})
            pos = i
        # APPn / COM / others: skipped
    if sof is None or not scans:
        raise ValueError("incomplete JPEG: missing SOF/SOS")
    h, w, comps = sof
    nc = len(comps)
    if dhp is not None or len(frames) > 1:
        return _decode_hierarchical(frames, dhp, qtabs)
    if lossless:
        return _decode_lossless(scans, comps, h, w,
                                sample_precision)
    planes, comps = _decode_dct_frame(
        scans, comps, h, w, progressive, sample_precision, qtabs)
    return _present_planes(planes, len(comps), sample_precision)


def _present_planes(planes, nc, sample_precision):
    """Native-precision component planes -> the uniform uint8 RGB
    schema: clamp at the stream's precision, floor-downscale >8-bit
    samples (floor(x / 2^(P-8))), then grayscale-replicate or apply
    the JFIF YCbCr matrices."""
    shown = []
    for plane in planes:
        if sample_precision > 8:
            plane = np.floor(
                np.clip(plane.round(), 0,
                        (1 << sample_precision) - 1)
                / (1 << (sample_precision - 8)))
        shown.append(plane)
    if nc == 1:
        gray = np.clip(shown[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    ycc = np.stack(shown, axis=-1)
    return _ycbcr_to_rgb(ycc)


def _decode_dct_frame(scans, comps, h, w, progressive,
                      sample_precision, qtabs, level_shift=True):
    """Decode one DCT frame's scans to full-resolution component
    planes at NATIVE precision (float64, h x w each). ``level_shift``
    off is the differential-frame mode (T.81 Annex J residuals: no
    +2^(P-1), values signed). Returns (planes, normalized comps)."""
    nc = len(comps)
    if nc == 1:
        # a single-component image's scans are non-interleaved per
        # T.81 A.2.3: the MCU is ONE data unit and the declared
        # sampling factors do not apply — normalize to 1x1 so every
        # walk covers exactly ceil(w/8) x ceil(h/8) data units
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for cid, hi, vi, _tq in comps:
        if hmax % hi or vmax % vi:
            raise NotImplementedError(
                f"non-integer upsampling ratio for component {cid} "
                f"({hi}x{vi} vs max {hmax}x{vmax})")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_x * mcus_y
    grids = []  # per component: (rows*cols, 64) zigzag coef grid
    for _cid, hi, vi, _tq in comps:
        grids.append(np.zeros((mcus_y * vi * mcus_x * hi, 64),
                              dtype=np.int32))
    if progressive:
        _decode_progressive_scans(scans, comps, grids, mcus_x,
                                  mcus_y, h, w, hmax, vmax)
    else:
        # baseline: one interleaved scan (the classic shape) OR a
        # sequence of scans over component subsets (non-interleaved /
        # planar streams — T.81 allows both; libjpeg's jpeg_write_
        # raw_data and some camera firmwares emit per-component
        # scans). Each component must be coded exactly once across
        # the scans; walks and restart segmentation reuse the
        # progressive machinery (the restart-counting unit is the MCU
        # for an interleaved scan, the data unit otherwise —
        # T.81 A.2.2/A.2.3).
        idx_of = {c[0]: i for i, c in enumerate(comps)}
        seen_cids: list[int] = []
        for scan in scans:
            if scan["ss"] != 0 or scan["se"] != 63 \
                    or scan["ah"] or scan["al"]:
                raise ValueError(
                    "baseline scan carries progressive parameters "
                    f"(Ss={scan['ss']} Se={scan['se']} "
                    f"Ah={scan['ah']} Al={scan['al']})")
            scan_cids = [cid for cid, _dc, _ac in scan["comps"]]
            for cid in scan_cids:
                if cid not in idx_of:
                    raise ValueError(
                        f"scan references unknown component {cid}")
                if cid in seen_cids:
                    raise ValueError(
                        f"component {cid} coded in two baseline scans")
            seen_cids += scan_cids
            huff = scan["huff"]
            tables = {}
            for cid, dc_t, ac_t in scan["comps"]:
                if (0, dc_t) not in huff or (1, ac_t) not in huff:
                    raise ValueError(
                        f"scan references undefined Huffman table "
                        f"(DC {dc_t} / AC {ac_t})")
                tables[cid] = (huff[(0, dc_t)], huff[(1, ac_t)])
            ri = scan["ri"]
            cur = _SegmentCursor(scan["segments"], scan["rst_ids"], ri)
            walk = _prog_unit_walk(scan_cids, comps, idx_of, mcus_x,
                                   mcus_y, h, w, hmax, vmax)
            prev_dc: dict[int, int] = {}
            last_unit = -1
            for unit, ci, bi in walk:
                if unit != last_unit:
                    if ri and last_unit >= 0 and unit % ri == 0:
                        cur.restart()
                        prev_dc = {}
                    last_unit = unit
                dc_table, ac_table = tables[comps[ci][0]]
                reader = cur.reader
                size = _read_symbol(reader, dc_table)
                diff = _extend(reader.bits(size), size) if size else 0
                prev_dc[ci] = prev_dc.get(ci, 0) + diff
                zz = grids[ci][bi]
                zz[0] = prev_dc[ci]
                k = 1
                while k <= 63:
                    sym = _read_symbol(reader, ac_table)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run != 15:
                            raise ValueError("invalid AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    zz[k] = _extend(reader.bits(size), size)
                    k += 1
        if sorted(seen_cids) != sorted(idx_of):
            raise ValueError(
                "baseline scans do not cover every component exactly "
                f"once (coded {sorted(seen_cids)} of "
                f"{sorted(idx_of)})")
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        # coefs hold ZIGZAG-ordered values; bring them to natural
        # order FIRST, then dequantize with the natural-order table
        # (multiplying zigzag values by the natural-order table pairs
        # every AC coefficient with the wrong quant step — caught by
        # the noise-image roundtrip test)
        rows, cols = mcus_y * vi, mcus_x * hi
        q = qtabs[tq].reshape(64).astype(np.float64)
        deq = (grids[ci].astype(np.float64)[:, UNZIGZAG] * q) \
            .reshape(rows * cols, 8, 8)
        # level shift at the stream's sample precision (skipped in
        # differential mode: Annex J residuals are signed); >8-bit
        # presentation downscale happens in _present_planes so
        # hierarchical folding runs at native precision
        half = float(1 << (sample_precision - 1)) if level_shift \
            else 0.0
        spatial = np.einsum("xu,nuv,yv->nxy", _A.T, deq, _A.T) + half
        plane = (spatial.reshape(rows, cols, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8))
        # crop to the component's true dims, then replicate up to
        # full resolution (nearest-neighbor upsampling — spec-legal;
        # T.81 leaves the upsampling filter to the decoder)
        ch_, cw_ = -(-h * vi // vmax), -(-w * hi // hmax)
        plane = plane[:ch_, :cw_]
        if vi != vmax or hi != hmax:
            plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                              hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    return planes, comps




# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3, T.81 Annex H) — predictor DPCM, no DCT.
# Components are stored raw (T.81 defines no color transform for the
# lossless process); multi-component streams present as stacked
# channels, grayscale replicates. Precision 2..16; reconstructions
# above 8 bits present as floor(x / 2^(P-8)) on the uint8 schema
# like the extended-sequential path.
# ---------------------------------------------------------------------------

#: Complete code for lossless difference categories 0..16 (SSSS=16
#: is the special 32768 symbol, T.81 H.1.2.2): 17 symbols at 5 bits,
#: all-ones 5-bit code unused per the T.81 convention.
DC_LOSSLESS_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
DC_LOSSLESS_VALS = list(range(17))


def _lossless_predict(plane, y, x, sel, default):
    """T.81 H.1 prediction for sample (y, x): first sample uses the
    default (2^(P-Pt-1)), the rest of row 0 use Ra, column 0 uses
    Rb, and interior samples use selector 1..7."""
    if y == 0:
        return default if x == 0 else int(plane[0, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
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
    return (ra + rb) >> 1  # sel == 7


def _decode_lossless(scans, comps, h, w, precision):
    nc = len(comps)
    for cid, hi, vi, _tq in comps:
        if nc > 1 and (hi != 1 or vi != 1):
            raise NotImplementedError(
                "subsampled lossless components unsupported "
                f"(component {cid} is {hi}x{vi})")
    idx_of = {c[0]: i for i, c in enumerate(comps)}
    planes = [np.zeros((h, w), dtype=np.int32) for _ in comps]
    coded: list[int] = []
    for scan in scans:
        sel, pt = scan["ss"], scan["al"]
        if not 1 <= sel <= 7:
            raise ValueError(
                f"lossless predictor selector {sel} out of 1..7")
        if scan["ri"] or len(scan["segments"]) != 1:
            raise NotImplementedError(
                "restart intervals in lossless scans unsupported")
        huff = scan["huff"]
        tables = []
        cis = []
        for cid, dc_t, _ac_t in scan["comps"]:
            if cid not in idx_of:
                raise ValueError(f"unknown component {cid}")
            if cid in coded:
                raise ValueError(f"component {cid} coded twice")
            coded.append(cid)
            if (0, dc_t) not in huff:
                raise ValueError(f"undefined DC table {dc_t}")
            tables.append(huff[(0, dc_t)])
            cis.append(idx_of[cid])
        reader = _BitReader(scan["segments"][0])
        default = 1 << (precision - pt - 1)
        for y in range(h):
            for x in range(w):
                for ci, table in zip(cis, tables):
                    size = _read_symbol(reader, table)
                    if size == 16:
                        diff = 32768
                    elif size:
                        diff = _extend(reader.bits(size), size)
                    else:
                        diff = 0
                    px = _lossless_predict(planes[ci], y, x, sel,
                                           default)
                    planes[ci][y, x] = (px + diff) & 0xFFFF
        if pt:
            for ci in cis:
                planes[ci] <<= pt
    if sorted(coded) != sorted(idx_of):
        raise ValueError(
            f"lossless scans cover {sorted(coded)} of "
            f"{sorted(idx_of)}")
    out = []
    for p in planes:
        p = np.clip(p, 0, (1 << precision) - 1)
        if precision > 8:
            p = p >> (precision - 8)
        out.append(p.astype(np.uint8))
    if nc == 1:
        return np.repeat(out[0][:, :, None], 3, axis=2)
    return np.stack(out, axis=-1)


def encode_jpeg_lossless(img: np.ndarray, predictor: int = 4,
                         precision: int = 8) -> bytes:
    """(h, w) or (h, w, C) integer samples in [0, 2**precision) ->
    SOF3 lossless JFIF bytes (one interleaved scan, predictor
    ``predictor`` 1..7, point transform 0). The paired source of
    truth for the decoder's EXACT roundtrip pin — lossless means
    decode(encode(x)) == x bit-for-bit at 8-bit precision."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nc = img.shape
    arr = img.astype(np.int64)
    if arr.min() < 0 or arr.max() >= (1 << precision):
        raise ValueError(f"samples out of [0, {(1 << precision) - 1}]")
    code = _canonical_codes(DC_LOSSLESS_BITS, DC_LOSSLESS_VALS)
    bw = _BitWriter()
    default = 1 << (precision - 1)
    planes = [arr[:, :, c] for c in range(nc)]
    for y in range(h):
        for x in range(w):
            for p in planes:
                px = _lossless_predict(p, y, x, predictor, default)
                diff = int(p[y, x]) - px
                # mod-2^16 wrap keeps every difference in the
                # [-32767, 32768] alphabet (T.81 H.1.2.1)
                diff = ((diff + 32768) & 0xFFFF) - 32768
                if diff == 32768:
                    c_, l_ = code[16]
                    bw.write(c_, l_)
                    continue
                size = _category(diff)
                c_, l_ = code[size]
                bw.write(c_, l_)
                if size:
                    bw.write(_amplitude(diff, size), size)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    sof = bytes([precision]) + h.to_bytes(2, "big") \
        + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc3" + (len(sof) + 2).to_bytes(2, "big") + sof
    out += _dht_segment(0x00, DC_LOSSLESS_BITS, DC_LOSSLESS_VALS)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, 0])  # Ss=sel, Se=0, AhAl=0
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Hierarchical JPEG (T.81 Annex J): DHP header, a non-differential
# first frame at reduced resolution, EXP reference expansion (the
# spec's fixed bilinear doubling, J.1.1.2), and SOF5 differential
# sequential frames whose IDCT output is a SIGNED residual added to
# the expanded reference. Differential progressive/lossless (SOF6/7)
# and all arithmetic modes remain named refusals.
# ---------------------------------------------------------------------------


def _exp_upsample(p: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """T.81 J.1.1.2 reference expansion: doubled axis keeps input
    samples at even positions, odd positions are the rounded mean of
    the neighbors ((a+b+1)>>1), last odd replicates the edge."""
    if eh:
        n = p.shape[1]
        out = np.zeros((p.shape[0], 2 * n), dtype=np.int64)
        out[:, 0::2] = p
        if n > 1:
            out[:, 1:-1:2] = (p[:, :-1] + p[:, 1:] + 1) >> 1
        out[:, -1] = p[:, -1]
        p = out
    if ev:
        n = p.shape[0]
        out = np.zeros((2 * n, p.shape[1]), dtype=np.int64)
        out[0::2, :] = p
        if n > 1:
            out[1:-1:2, :] = (p[:-1, :] + p[1:, :] + 1) >> 1
        out[-1, :] = p[-1, :]
        p = out
    return p


def _decode_hierarchical(frames, dhp, qtabs):
    if not frames:
        raise ValueError("hierarchical stream without frames")
    if frames[0]["differential"]:
        raise ValueError("first hierarchical frame must be "
                         "non-differential (T.81 J.1)")
    precision = frames[0]["precision"]
    maxv = (1 << precision) - 1
    ref = None
    comp_ids = None
    for idx, fr in enumerate(frames):
        h, w, comps = fr["sof"]
        if fr["lossless"]:
            raise NotImplementedError(
                "lossless frames inside a hierarchical stream")
        if fr["precision"] != precision:
            raise ValueError("sample precision changed mid-stream")
        if idx == 0:
            planes, comps_n = _decode_dct_frame(
                fr["scans"], comps, h, w, fr["progressive"],
                precision, qtabs)
            ref = [np.clip(p.round(), 0, maxv).astype(np.int64)
                   for p in planes]
            comp_ids = [c[0] for c in comps_n]
            continue
        if not fr["differential"]:
            raise NotImplementedError(
                "non-differential frame after the first in a "
                "hierarchical stream")
        if [c[0] for c in comps] != comp_ids and \
                [c[0] for c in comps] != comp_ids[:len(comps)]:
            raise ValueError("component ids changed across frames")
        eh, ev = fr["exp"]
        if eh or ev:
            ref = [_exp_upsample(p, eh, ev) for p in ref]
        if ref[0].shape[0] < h or ref[0].shape[1] < w:
            raise ValueError(
                f"reference {ref[0].shape} smaller than frame "
                f"{h}x{w} (missing EXP?)")
        ref = [p[:h, :w] for p in ref]   # odd-dim crop after EXP
        res, _ = _decode_dct_frame(
            fr["scans"], comps, h, w, fr["progressive"],
            precision, qtabs, level_shift=False)
        ref = [np.clip(r + d.round(), 0, maxv).astype(np.int64)
               for r, d in zip(ref, res)]
    planes = [p.astype(np.float64) for p in ref]
    return _present_planes(planes, len(planes), precision)


def encode_jpeg_hierarchical(img: np.ndarray,
                             quality: int = 85) -> bytes:
    """(h, w) GRAYSCALE uint8 -> two-level hierarchical JFIF bytes:
    DHP, a half-resolution SOF0 base frame, EXP(1,1), and one SOF5
    differential frame carrying the closed-loop residual (computed
    against the DECODER's own base reconstruction + spec upsampling,
    so encoder and decoder references agree exactly). The paired
    test-vector source for Annex J decode; color hierarchical
    streams decode fine but this encoder stays single-component."""
    if img.ndim != 2:
        raise ValueError("hierarchical encoder is grayscale-only")
    h, w = img.shape
    full = img.astype(np.int64)
    base = full[::2, ::2]                    # encoder's downsample
    bh, bw = base.shape

    q = _scaled_quant(QUANT_LUM, quality).astype(np.float64)
    dc_code = _canonical_codes(DC_EXTENDED_BITS, DC_EXTENDED_VALS)
    ac_code = _canonical_codes(AC_UNIVERSAL_BITS, AC_UNIVERSAL_VALS)

    def dct_quantize(plane, rows, cols, level_shift):
        blocks = _grid_blocks(plane.astype(np.float64), rows, cols)
        if level_shift:
            blocks = blocks - 128.0
        coef = np.einsum("ux,rcxy,vy->rcuv", _A, blocks, _A)
        return np.round(coef / q).astype(np.int32)

    def scan_bytes(quant, rows, cols):
        bw_ = _BitWriter()
        prev = 0
        for by in range(rows):
            for bx in range(cols):
                zz = quant[by, bx].reshape(64)[ZIGZAG]
                prev = _encode_block(bw_, zz, prev, dc_code, ac_code)
        bw_.flush()
        return bytes(bw_.out)

    def reconstruct(quant, rows, cols, level_shift):
        deq = quant.astype(np.float64) * q
        spatial = np.einsum("xu,rcuv,yv->rcxy", _A.T, deq, _A.T)
        if level_shift:
            spatial = spatial + 128.0
        plane = (spatial.transpose(0, 2, 1, 3)
                 .reshape(rows * 8, cols * 8))
        return plane

    # base frame + the decoder's reconstruction of it
    brows, bcols = -(-bh // 8), -(-bw // 8)
    qbase = dct_quantize(base, brows, bcols, True)
    ref = np.clip(reconstruct(qbase, brows, bcols, True)[:bh, :bw]
                  .round(), 0, 255).astype(np.int64)
    ref_up = _exp_upsample(ref, 1, 1)[:h, :w]
    residual = full - ref_up
    frows, fcols = -(-h // 8), -(-w // 8)
    qres = dct_quantize(residual, frows, fcols, False)

    def sof(marker, fh, fw):
        body = bytes([8]) + fh.to_bytes(2, "big") \
            + fw.to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
        return bytes([0xFF, marker]) \
            + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"
            b"\x00\x01\x00\x01\x00\x00")
    dqt = bytes([0]) + bytes(int(x) for x in
                             q.astype(np.int32).reshape(64)[ZIGZAG])
    out += b"\xff\xdb" + (len(dqt) + 2).to_bytes(2, "big") + dqt
    out += sof(0xDE, h, w)                       # DHP (full dims)
    out += _dht_segment(0x00, DC_EXTENDED_BITS, DC_EXTENDED_VALS)
    out += _dht_segment(0x10, AC_UNIVERSAL_BITS, AC_UNIVERSAL_VALS)
    out += sof(0xC0, bh, bw)                     # base frame
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += scan_bytes(qbase, brows, bcols)
    out += b"\xff\xdf\x00\x03\x11"               # EXP(1,1)
    out += sof(0xC5, h, w)                       # differential frame
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    out += scan_bytes(qres, frows, fcols)
    out += b"\xff\xd9"
    return bytes(out)
