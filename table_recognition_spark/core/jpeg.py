"""Pure-numpy baseline JPEG codec (no cv2/PIL in this environment).

The reference's actual corpus is ``.jpg`` page scans
(/root/reference/table_recognition/graph/graph.py:103,174), so the engine
must be able to ingest real JPEG bytes. This module implements the
public-spec (ITU-T T.81) baseline sequential DCT process:

- decoder: SOI/APPn/COM/DQT/SOF0/DHT/DRI/SOS parsing, canonical Huffman
  tables via a 16-bit lookup, byte-unstuffing + restart-marker handling
  with numpy, interleaved MCU entropy decode, batch dequant + inverse
  zigzag + one einsum IDCT per component. Two outputs:
  ``jpeg_decode_gray8`` (luma plane only — chroma entropy-decoded to
  keep the stream in sync, not IDCT'd) and ``jpeg_decode_rgb`` (full
  color: per-component IDCT, replication chroma upsampling, JFIF
  YCbCr→RGB — what the reference's ``cv2.imread`` returns, channel-
  reversed). Progressive (SOF2: spectral selection + successive
  approximation, T.81 Annex G — DC/AC first + refinement scans, EOBn
  runs, restart handling) shares the same dequant/IDCT tail. Arithmetic
  coding and the hierarchical/lossless SOF families are out of scope
  and raise.
- encoder: baseline grayscale with the Annex-K example tables
  (``jpeg_encode_gray8``) — used to generate deterministic fixtures
  (any standards-compliant decoder reads its output). The color and
  progressive writers the decoder tests need live with those tests.

Throughput note: entropy decoding is an inherently serial bit walk, done
here as one python loop per coefficient run (~0.2-0.5 s for a megapixel
page). This implementation is the no-native-dependency floor, not the
scale path.
"""

from __future__ import annotations

import numpy as np

# zigzag scan order: position k in the scan -> (row, col) flat index
_ZZ = np.array(
    [
         0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# IDCT basis: out[x, y] = Σ_u Σ_v a[x, u] a[y, v] coef[u, v]
_A = np.array(
    [
        [
            (np.sqrt(1.0 / 8.0) if u == 0 else np.sqrt(2.0 / 8.0))
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for u in range(8)
        ]
        for x in range(8)
    ]
)

# Annex K (T.81 §K.3) example Huffman specs — public constants
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
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
]

# T.81 §K.1 example luminance quantization table (quality 50), zigzag order
_Q50_LUM = np.array(
    [
        16, 11, 12, 14, 12, 10, 16, 14,
        13, 14, 18, 17, 16, 19, 24, 40,
        26, 24, 22, 22, 24, 49, 35, 37,
        29, 40, 58, 51, 61, 60, 57, 51,
        56, 55, 64, 72, 92, 78, 64, 68,
        87, 69, 55, 56, 80, 109, 81, 87,
        95, 98, 103, 104, 103, 62, 77, 113,
        121, 112, 100, 120, 92, 101, 103, 99,
    ],
    dtype=np.int64,
)


class _HuffLUT:
    """Canonical Huffman table as a 16-bit peek lookup: sym[w], length[w]
    for every 16-bit window w whose prefix is a valid code."""

    __slots__ = ("sym", "length", "maxlen")

    def __init__(self, bits, vals):
        self.sym = np.zeros(1 << 16, dtype=np.int16)
        self.length = np.zeros(1 << 16, dtype=np.int8)
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                lo = code << (16 - ln)
                hi = (code + 1) << (16 - ln)
                self.sym[lo:hi] = vals[k]
                self.length[lo:hi] = ln
                k += 1
                code += 1
            code <<= 1
        self.maxlen = 16


class _BitReader:
    """MSB-first bit reader over a clean (unstuffed) byte buffer."""

    __slots__ = ("buf", "pos", "acc", "nbits")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            b = self.buf[self.pos] if self.pos < len(self.buf) else 0
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _decode_block(br: _BitReader, dc_lut: _HuffLUT, ac_lut: _HuffLUT,
                  pred: int, out: np.ndarray) -> int:
    """Entropy-decode one 64-coef block (zigzag order) into ``out``;
    returns the new DC predictor."""
    w = br.peek16()
    t = int(dc_lut.sym[w])
    ln = int(dc_lut.length[w])
    if ln == 0:
        raise ValueError("invalid JPEG: bad DC Huffman code")
    br.skip(ln)
    diff = _extend(br.read(t), t)
    pred += diff
    out[0] = pred
    k = 1
    while k < 64:
        w = br.peek16()
        rs = int(ac_lut.sym[w])
        ln = int(ac_lut.length[w])
        if ln == 0:
            raise ValueError("invalid JPEG: bad AC Huffman code")
        br.skip(ln)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("invalid JPEG: AC run past block end")
        out[k] = _extend(br.read(s), s)
        k += 1
    return pred


def _dc_first_block(br: _BitReader, dc_lut: _HuffLUT, pred: int) -> int:
    """Progressive DC first-pass (Ah=0): decode one DC diff; returns the
    new predictor (in the point-transformed domain — caller shifts by
    Al when storing). T.81 §G.2."""
    w = br.peek16()
    t = int(dc_lut.sym[w])
    ln = int(dc_lut.length[w])
    if ln == 0:
        raise ValueError("invalid JPEG: bad DC Huffman code")
    br.skip(ln)
    return pred + _extend(br.read(t), t)


def _ac_first_block(br: _BitReader, ac_lut: _HuffLUT, blk: np.ndarray,
                    ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC first pass (Ah=0) for one block's band [ss, se]:
    run/size coding like sequential, plus EOBn band-skip runs. Returns
    the remaining EOB run (this block consumed one when active)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        w = br.peek16()
        rs = int(ac_lut.sym[w])
        ln = int(ac_lut.length[w])
        if ln == 0:
            raise ValueError("invalid JPEG: bad AC Huffman code")
        br.skip(ln)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            # EOBn: run of (1<<r)+bits blocks with an empty remainder —
            # includes THIS block, so the stored count is one less
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read(r)
            break
        k += r
        if k > se:
            raise ValueError("invalid JPEG: AC run past band end")
        blk[k] = _extend(br.read(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br: _BitReader, ac_lut: _HuffLUT, blk: np.ndarray,
                     ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC refinement (Ah=Al+1) for one block's band: newly
    significant coefficients arrive as ±1<<Al; every already-nonzero
    coefficient consumes a correction bit as the walk passes it (T.81
    §G.1.2.3 / the classic jdphuff control flow). Returns remaining
    EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            w = br.peek16()
            rs = int(ac_lut.sym[w])
            ln = int(ac_lut.length[w])
            if ln == 0:
                raise ValueError("invalid JPEG: bad AC Huffman code")
            br.skip(ln)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "invalid JPEG: AC refinement size must be 1"
                    )
                val = p1 if br.read(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.read(r)
                break
            # walk forward: correction-bit every nonzero-history coef,
            # count down r zero-history slots (r=15 ⇒ ZRL skip of 16)
            while k <= se:
                v = int(blk[k])
                if v != 0:
                    if br.read(1) and (v & p1) == 0:
                        blk[k] = v + (p1 if v >= 0 else m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        # EOB covers this block: remaining nonzero-history coefficients
        # in the band still consume correction bits
        while k <= se:
            v = int(blk[k])
            if v != 0:
                if br.read(1) and (v & p1) == 0:
                    blk[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _unstuff_scan(data: bytes, start: int):
    """Split the entropy-coded segment starting at ``start`` into
    restart-delimited sub-segments with 0xFF00 stuffing removed.
    Returns (segments, end_pos) where end_pos is the next marker's 0xFF."""
    buf = np.frombuffer(data, dtype=np.uint8)
    segs = []
    cur_parts = []
    i = start
    seg_begin = start
    n = len(buf)
    ff = np.flatnonzero(buf[start:] == 0xFF) + start
    for f in ff:
        if f < i:
            continue
        nxt = int(buf[f + 1]) if f + 1 < n else 0xD9
        if nxt == 0x00:  # stuffed 0xFF literal: keep 0xFF, drop 0x00
            cur_parts.append(buf[seg_begin : f + 1])
            seg_begin = f + 2
            i = f + 2
        elif 0xD0 <= nxt <= 0xD7:  # restart marker
            cur_parts.append(buf[seg_begin:f])
            segs.append(b"".join(p.tobytes() for p in cur_parts))
            cur_parts = []
            seg_begin = f + 2
            i = f + 2
        else:  # real marker: end of scan
            cur_parts.append(buf[seg_begin:f])
            segs.append(b"".join(p.tobytes() for p in cur_parts))
            return segs, int(f)
    cur_parts.append(buf[seg_begin:n])
    segs.append(b"".join(p.tobytes() for p in cur_parts))
    return segs, n


def _init_layout(comps, H, W):
    """MCU grid + per-component block geometry (shared by the baseline
    and progressive paths). Returns (mcux, mcuy, hmax, vmax, n_mcu)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-W // (8 * hmax))
    mcuy = -(-H // (8 * vmax))
    n_mcu = mcux * mcuy
    for c in comps:
        c["bw"] = mcux * c["h"]  # blocks per row (MCU-padded storage)
        c["nb"] = n_mcu * c["h"] * c["v"]
        # true block dims of the component raster (non-interleaved scans
        # cover these, NOT the MCU-padded grid): ceil(ceil(W·h/hmax)/8)
        c["cbw"] = -(-(-(-W * c["h"] // hmax)) // 8)
        c["cbh"] = -(-(-(-H * c["v"] // vmax)) // 8)
    return mcux, mcuy, hmax, vmax, n_mcu


def _decode_one_prog_scan(
    segs, scan_members, coefs_by_idx, dc_luts, ac_luts,
    ss, se, ah, al, restart_interval, mcux, n_mcu,
):
    """One progressive scan's entropy decode, accumulating into the
    component coefficient arrays. ``scan_members`` = [(ci, comp), ...]
    in scan order. Restart segments reset DC predictors and the EOB
    run (T.81 §G.1.2)."""
    interleaved = len(scan_members) > 1
    if interleaved:
        units_total = n_mcu
    else:
        _ci0, c0 = scan_members[0]
        units_total = c0["cbw"] * c0["cbh"]
    per_seg = restart_interval if restart_interval else units_total
    unit = 0
    for seg_bytes in segs:
        if unit >= units_total:
            break
        br = _BitReader(seg_bytes)
        preds = {c["id"]: 0 for _ci, c in scan_members}
        eobrun = 0
        for _k in range(min(per_seg, units_total - unit)):
            if interleaved:
                # DC scans only (AC scans are single-component by spec)
                my, mx = divmod(unit, mcux)
                for ci, c in scan_members:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            bi = (my * c["v"] + by) * c["bw"] + (
                                mx * c["h"] + bx
                            )
                            blk = coefs_by_idx[ci][bi]
                            if ah == 0:
                                preds[c["id"]] = _dc_first_block(
                                    br, dc_luts[c["dc"]], preds[c["id"]]
                                )
                                blk[0] = preds[c["id"]] << al
                            elif br.read(1):
                                blk[0] = int(blk[0]) | (1 << al)
            else:
                ci, c = scan_members[0]
                row, col = divmod(unit, c["cbw"])
                blk = coefs_by_idx[ci][row * c["bw"] + col]
                if ss == 0:  # DC, non-interleaved
                    if ah == 0:
                        preds[c["id"]] = _dc_first_block(
                            br, dc_luts[c["dc"]], preds[c["id"]]
                        )
                        blk[0] = preds[c["id"]] << al
                    elif br.read(1):
                        blk[0] = int(blk[0]) | (1 << al)
                elif ah == 0:
                    eobrun = _ac_first_block(
                        br, ac_luts[c["ac"]], blk, ss, se, al, eobrun
                    )
                else:
                    eobrun = _ac_refine_block(
                        br, ac_luts[c["ac"]], blk, ss, se, al, eobrun
                    )
            unit += 1
    return unit


def _decode_components(data: bytes):
    """Shared parse + entropy decode for every scan component — baseline
    (SOF0/SOF1, single interleaved scan) and progressive (SOF2, multi-
    scan spectral selection + successive approximation). Returns
    (comps, coefs_by_idx, qt, H, W, mcux, mcuy, hmax, vmax) where
    coefs_by_idx[i] is the (n_blocks, 64) zigzag coefficient array of
    component i in block-raster order."""
    data = bytes(data)
    if data[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict = {}
    dc_luts: dict = {}
    ac_luts: dict = {}
    comps: list = []
    H = W = 0
    restart_interval = 0
    progressive = False
    prog_layout = None  # (mcux, mcuy, hmax, vmax, n_mcu) once known
    coefs_by_idx: list = []
    scans_done = 0
    i = 2
    while True:
        while data[i] == 0xFF and data[i + 1] == 0xFF:  # fill bytes
            i += 1
        if data[i] != 0xFF:
            raise ValueError("invalid JPEG: expected marker")
        m = data[i + 1]
        i += 2
        if m == 0xD9:  # EOI
            if progressive and scans_done:
                break  # all scans accumulated
            raise ValueError("invalid JPEG: no scan data")
        if m in (0x01,) or 0xD0 <= m <= 0xD7:  # parameterless
            continue
        seg_len = (data[i] << 8) | data[i + 1]
        seg = data[i + 2 : i + seg_len]
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq:
                    vals = np.frombuffer(
                        seg[j : j + 128], dtype=">u2"
                    ).astype(np.int64)
                    j += 128
                else:
                    vals = np.frombuffer(
                        seg[j : j + 64], dtype=np.uint8
                    ).astype(np.int64)
                    j += 64
                qt[tq] = vals
        elif m == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                (dc_luts if tc == 0 else ac_luts)[th] = _HuffLUT(bits, vals)
                j += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = m == 0xC2
            H = (seg[1] << 8) | seg[2]
            W = (seg[3] << 8) | seg[4]
            nc = seg[5]
            comps = [
                {
                    "id": seg[6 + 3 * c],
                    "h": seg[7 + 3 * c] >> 4,
                    "v": seg[7 + 3 * c] & 0x0F,
                    "tq": seg[8 + 3 * c],
                }
                for c in range(nc)
            ]
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{m:02X}: only baseline sequential "
                "(SOF0/SOF1) and progressive (SOF2) are supported by the "
                "numpy codec"
            )
        elif m == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scan = {}
            for c in range(ns):
                cid = seg[1 + 2 * c]
                scan[cid] = (seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0x0F)
            if not comps or H == 0 or W == 0:
                raise ValueError("invalid JPEG: missing SOF before SOS")
            if not progressive:
                i += seg_len
                break
            # ---- progressive: accumulate this scan, keep parsing ----
            if prog_layout is None:
                prog_layout = _init_layout(comps, H, W)
                coefs_by_idx = [
                    np.zeros((c["nb"], 64), dtype=np.int32) for c in comps
                ]
            p_mcux, _p_mcuy, _p_hmax, _p_vmax, p_n_mcu = prog_layout
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            members = []
            for ci, c in enumerate(comps):
                if c["id"] in scan:
                    c["dc"], c["ac"] = scan[c["id"]]
                    members.append((ci, c))
            if ss > 0 and len(members) != 1:
                raise ValueError(
                    "invalid JPEG: progressive AC scan must be "
                    "single-component"
                )
            segs, end = _unstuff_scan(data, i + seg_len)
            _decode_one_prog_scan(
                segs, members, coefs_by_idx, dc_luts, ac_luts,
                ss, se, ah, al, restart_interval, p_mcux, p_n_mcu,
            )
            scans_done += 1
            i = end
            continue
        i += seg_len
    if progressive:
        mcux, mcuy, hmax, vmax, _n_mcu = prog_layout
        return comps, coefs_by_idx, qt, H, W, mcux, mcuy, hmax, vmax

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-W // (8 * hmax))
    mcuy = -(-H // (8 * vmax))
    n_mcu = mcux * mcuy
    for c in comps:
        c["dc"], c["ac"] = scan[c["id"]]
        c["bw"] = mcux * c["h"]  # blocks per row
        c["nb"] = n_mcu * c["h"] * c["v"]

    coefs_by_idx = [
        np.zeros((c["nb"], 64), dtype=np.int32) for c in comps
    ]

    segs, _end = _unstuff_scan(data, i)
    mcu = 0
    blk64 = np.zeros(64, dtype=np.int32)
    per_seg = restart_interval if restart_interval else n_mcu
    for seg_bytes in segs:
        if mcu >= n_mcu:
            break
        br = _BitReader(seg_bytes)
        preds = {c["id"]: 0 for c in comps}
        for _k in range(min(per_seg, n_mcu - mcu)):
            my, mx = divmod(mcu, mcux)
            for ci, c in enumerate(comps):
                dc_lut = dc_luts[c["dc"]]
                ac_lut = ac_luts[c["ac"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk64[:] = 0
                        preds[c["id"]] = _decode_block(
                            br, dc_lut, ac_lut, preds[c["id"]], blk64
                        )
                        bi = (my * c["v"] + by) * c["bw"] + (
                            mx * c["h"] + bx
                        )
                        coefs_by_idx[ci][bi] = blk64
            mcu += 1
    return comps, coefs_by_idx, qt, H, W, mcux, mcuy, hmax, vmax


def _comp_plane(c, coefs, qt, mcuy) -> np.ndarray:
    """Dequant + inverse zigzag + batch IDCT one component's coefficient
    array → its uint8 plane at the component's sampled resolution."""
    dq = coefs * qt[c["tq"]][None, :]
    blocks = np.zeros((c["nb"], 64), dtype=np.float64)
    blocks[:, _ZZ] = dq
    blocks = blocks.reshape(-1, 8, 8)
    pix = np.einsum("xu,nuv,yv->nxy", _A, blocks, _A)
    pix = np.clip(np.round(pix) + 128.0, 0, 255).astype(np.uint8)
    bh = mcuy * c["v"]
    bw = c["bw"]
    return (
        pix.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )


def jpeg_decode_gray8(data: bytes) -> np.ndarray:
    """Decode baseline-sequential JPEG bytes → (H, W) uint8 luma plane.
    Chroma components are entropy-decoded (the stream interleaves them)
    but not IDCT'd — :func:`jpeg_decode_rgb` is the color path."""
    comps, coefs, qt, H, W, _mcux, mcuy, _hmax, _vmax = _decode_components(
        data
    )
    # luma plane covers ceil(W*h/hmax), crop to sample dims then to (H, W)
    # (for the common 4:4:4 / 4:2:0 layouts the first-component plane is
    # exactly the image raster)
    return _comp_plane(comps[0], coefs[0], qt, mcuy)[:H, :W]


def jpeg_decode_rgb(data: bytes) -> np.ndarray:
    """Decode baseline-sequential JPEG bytes → (H, W, 3) uint8 RGB.

    Full color path: every component is dequantized + IDCT'd, chroma is
    upsampled to the luma grid by pixel replication (the nearest-
    neighbour upsampling JFIF permits; libjpeg's default "fancy"
    upsampler interpolates — a ±1-2 LSB difference on real photos,
    irrelevant for feature extraction), then the JFIF YCbCr→RGB
    transform is applied. A grayscale stream (1 component) replicates
    luma into all three channels — matching what ``cv2.imread`` (the
    reference's reader, graph.py:103) returns for grayscale files."""
    comps, coefs, qt, H, W, _mcux, mcuy, hmax, vmax = _decode_components(
        data
    )
    y = _comp_plane(comps[0], coefs[0], qt, mcuy)[:H, :W].astype(
        np.float64
    )
    if len(comps) < 3:
        g = np.clip(np.round(y), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    planes = []
    for ci in (1, 2):
        c = comps[ci]
        p = _comp_plane(c, coefs[ci], qt, mcuy)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        planes.append(p[:H, :W].astype(np.float64))
    cb, cr = planes[0] - 128.0, planes[1] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _encode_block(coefs_zz, pred, dc_lut_enc, ac_lut_enc, bits_out):
    """Huffman-encode one quantized zigzag block; returns new predictor."""
    def put(code, n):
        for b in range(n - 1, -1, -1):
            bits_out.append((code >> b) & 1)

    def mag(v):
        a, t = abs(v), 0
        while a:
            a >>= 1
            t += 1
        return t

    diff = int(coefs_zz[0]) - pred
    t = mag(diff)
    c, ln = dc_lut_enc[t]
    put(c, ln)
    if t:
        put(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coefs_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coefs_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_lut_enc[0xF0]
            put(c, ln)
            run -= 16
        s = mag(v)
        c, ln = ac_lut_enc[(run << 4) | s]
        put(c, ln)
        put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_lut_enc[0x00]
        put(c, ln)
    return int(coefs_zz[0])


def _enc_table(bits, vals):
    enc = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            enc[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return enc


def jpeg_encode_gray8(
    img: np.ndarray,
    restart_interval: int = 0,
    n_components: int = 1,
) -> bytes:
    """Encode an (H, W) uint8 image as baseline JFIF (Annex-K example
    quant/Huffman tables). Deterministic; used for fixtures.

    ``n_components=3`` writes an interleaved 4:4:4 YCbCr stream with
    flat-gray chroma (Y = img) and ``restart_interval`` emits RSTn
    markers every that many MCUs — both exist to exercise the DECODER's
    multi-component and restart paths against an independent writer of
    those structures (no third-party JPEG library in this sandbox)."""
    img = np.asarray(img, dtype=np.uint8)
    H, W = img.shape
    ph, pw = -(-H // 8) * 8, -(-W // 8) * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:H, :W] = img
    padded[H:, :W] = img[-1:, :]
    padded[:, W:] = padded[:, W - 1 : W]
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        - 128.0
    )
    coefs = np.einsum("xu,nxy,yv->nuv", _A, blocks, _A)
    qmat = np.zeros(64, dtype=np.int64)
    qmat[_ZZ] = _Q50_LUM
    q = np.round(coefs.reshape(-1, 64) / qmat[None, :]).astype(np.int64)
    qzz = q[:, _ZZ]  # back to zigzag order

    dc_enc = _enc_table(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_enc = _enc_table(_AC_LUM_BITS, _AC_LUM_VALS)
    zero_blk = np.zeros(64, dtype=np.int64)
    chroma_ids = list(range(2, n_components + 1))

    parts: list = []
    bits: list = []
    preds = {c: 0 for c in range(1, n_components + 1)}
    rst = 0

    def flush_bits():
        while len(bits) % 8:
            bits.append(1)  # pad with 1s
        payload = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
        parts.append(payload.replace(b"\xff", b"\xff\x00"))
        bits.clear()

    n_mcu = len(qzz)
    for m, b in enumerate(qzz):
        if restart_interval and m and m % restart_interval == 0:
            flush_bits()
            parts.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) & 7
            preds = {c: 0 for c in preds}
        preds[1] = _encode_block(b, preds[1], dc_enc, ac_enc, bits)
        for cid in chroma_ids:  # flat chroma: all-zero coefficient block
            preds[cid] = _encode_block(
                zero_blk, preds[cid], dc_enc, ac_enc, bits
            )
    _ = n_mcu
    flush_bits()
    stuffed = b"".join(parts)

    def seg(marker, body):
        ln = len(body) + 2
        return bytes([0xFF, marker, ln >> 8, ln & 0xFF]) + body

    out = b"\xff\xd8"  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(x) for x in _Q50_LUM))
    sof = [8, H >> 8, H & 0xFF, W >> 8, W & 0xFF, n_components]
    for cid in range(1, n_components + 1):
        sof += [cid, 0x11, 0]
    out += seg(0xC0, bytes(sof))
    out += seg(
        0xC4,
        bytes([0x00] + _DC_LUM_BITS) + bytes(_DC_LUM_VALS),
    )
    out += seg(
        0xC4,
        bytes([0x10] + _AC_LUM_BITS) + bytes(_AC_LUM_VALS),
    )
    if restart_interval:
        out += seg(
            0xDD, bytes([restart_interval >> 8, restart_interval & 0xFF])
        )
    sos = [n_components]
    for cid in range(1, n_components + 1):
        sos += [cid, 0x00]
    sos += [0, 63, 0]
    out += seg(0xDA, bytes(sos))
    out += stuffed
    out += b"\xff\xd9"  # EOI
    return out
