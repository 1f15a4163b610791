"""Fixture writers for tests: encoders and serializers whose output only
tests read.

- JPEG: the progressive grayscale (SOF2) and 4:4:4 color writers behind
  the decoder's progressive and color tests (the committed
  ``data/fixture_table_prog.jpg`` came from the progressive one). They
  reuse the baseline encoder's tables from ``core/jpeg.py``.
- cTDaR: the GT cell serializer behind the ``parse_ctdar_xml`` round
  trip.
- parquet: a range-clustered write whose row-group statistics are tight
  along its keys.
"""

from __future__ import annotations

from xml.etree import ElementTree

import numpy as np

from table_recognition_spark.core.jpeg import (
    _A,
    _AC_LUM_BITS,
    _AC_LUM_VALS,
    _DC_LUM_BITS,
    _DC_LUM_VALS,
    _Q50_LUM,
    _ZZ,
    _enc_table,
    _encode_block,
)
from table_recognition_spark.sources.pagexml import points_to_coords_string


def _put_bits(bits: list, code: int, n: int) -> None:
    for b in range(n - 1, -1, -1):
        bits.append((code >> b) & 1)


def _mag(v: int) -> int:
    a, t = abs(v), 0
    while a:
        a >>= 1
        t += 1
    return t


def jpeg_encode_gray8_progressive(img: np.ndarray) -> bytes:
    """Encode an (H, W) uint8 image as a PROGRESSIVE (SOF2) JFIF stream
    — spectral selection + one successive-approximation level, the shape
    libjpeg's default progression emits. Scan script (grayscale):

      1. DC first        Ss=0 Se=0  Ah=0 Al=1
      2. AC first        Ss=1 Se=5  Ah=0 Al=1
      3. AC first        Ss=6 Se=63 Ah=0 Al=1
      4. DC refinement   Ss=0 Se=0  Ah=1 Al=0   (raw bits, no Huffman)
      5. AC refinement   Ss=1 Se=63 Ah=1 Al=0

    Exercises every progressive decode path: DC first/refine, AC first
    (incl. EOB + ZRL), AC refine (correction bits, newly-significant
    placement). Annex-K tables throughout; EOB runs are emitted per
    block (EOB1) because the Annex-K AC table defines no EOBn symbols —
    legal, merely suboptimal. The quantized coefficients are EXACTLY
    those of :func:`jpeg_encode_gray8`, so both decodes must produce
    identical pixels (the round-trip equality test relies on this)."""
    img = np.asarray(img, dtype=np.uint8)
    H, W = img.shape
    qzz = _plane_qzz(img.astype(np.float64))
    dc_enc = _enc_table(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_enc = _enc_table(_AC_LUM_BITS, _AC_LUM_VALS)

    def ac_first(bits: list, blk, ss: int, se: int, al: int) -> None:
        run = 0
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = (abs(v) >> al) * (1 if v >= 0 else -1)  # trunc toward 0
            if t == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_enc[0xF0]
                _put_bits(bits, c, ln)
                run -= 16
            s = _mag(t)
            c, ln = ac_enc[(run << 4) | s]
            _put_bits(bits, c, ln)
            _put_bits(bits, t if t > 0 else t + (1 << s) - 1, s)
            run = 0
        if run:  # trailing zeros (or empty band): EOB1
            c, ln = ac_enc[0x00]
            _put_bits(bits, c, ln)

    def ac_refine(bits: list, blk, ss: int, se: int, ah: int, al: int):
        # mirror of the decoder walk: emit symbol+sign first, then the
        # correction bits of nonzero-history coefficients the decoder
        # passes while skipping the run's zero-history slots
        p_new = []  # newly significant positions
        for k in range(ss, se + 1):
            v = int(blk[k])
            if (abs(v) >> ah) == 0 and (abs(v) >> al) != 0:
                p_new.append(k)
        cursor = ss

        def corbit(k: int) -> int:
            return (abs(int(blk[k])) >> al) & 1

        def hist(k: int) -> bool:
            return (abs(int(blk[k])) >> ah) != 0

        for p in p_new:
            while True:
                # zero-history slots in [cursor, p)
                zh = [k for k in range(cursor, p) if not hist(k)]
                if len(zh) <= 15:
                    break
                # ZRL: decoder consumes 16 zero-history slots and every
                # history corbit up to (incl.) the 16th slot
                q = zh[15]
                c, ln = ac_enc[0xF0]
                _put_bits(bits, c, ln)
                for k in range(cursor, q + 1):
                    if hist(k):
                        bits.append(corbit(k))
                cursor = q + 1
            r = len([k for k in range(cursor, p) if not hist(k)])
            v = int(blk[p])
            c, ln = ac_enc[(r << 4) | 1]
            _put_bits(bits, c, ln)
            bits.append(1 if v > 0 else 0)  # sign of the new ±1<<al
            for k in range(cursor, p):
                if hist(k):
                    bits.append(corbit(k))
            cursor = p + 1
        if cursor <= se:  # EOB1 + tail correction bits
            c, ln = ac_enc[0x00]
            _put_bits(bits, c, ln)
            for k in range(cursor, se + 1):
                if hist(k):
                    bits.append(corbit(k))

    def flush(bits: list) -> bytes:
        while len(bits) % 8:
            bits.append(1)
        payload = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
        return payload.replace(b"\xff", b"\xff\x00")

    def seg(marker, body):
        ln = len(body) + 2
        return bytes([0xFF, marker, ln >> 8, ln & 0xFF]) + body

    def sos_hdr(ss, se, ah, al):
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(x) for x in _Q50_LUM))
    out += seg(
        0xC2,
        bytes([8, H >> 8, H & 0xFF, W >> 8, W & 0xFF, 1, 1, 0x11, 0]),
    )
    out += seg(0xC4, bytes([0x00] + _DC_LUM_BITS) + bytes(_DC_LUM_VALS))
    out += seg(0xC4, bytes([0x10] + _AC_LUM_BITS) + bytes(_AC_LUM_VALS))

    # scan 1: DC first (Al=1)
    bits: list = []
    pred = 0
    for blk in qzz:
        d = int(blk[0]) >> 1  # DC point transform: arithmetic shift
        diff = d - pred
        pred = d
        t = _mag(diff)
        c, ln = dc_enc[t]
        _put_bits(bits, c, ln)
        if t:
            _put_bits(bits, diff if diff > 0 else diff + (1 << t) - 1, t)
    out += sos_hdr(0, 0, 0, 1) + flush(bits)

    # scans 2+3: AC first, split spectral bands (Al=1)
    for ss, se in ((1, 5), (6, 63)):
        bits = []
        for blk in qzz:
            ac_first(bits, blk, ss, se, 1)
        out += sos_hdr(ss, se, 0, 1) + flush(bits)

    # scan 4: DC refinement — one raw bit per block
    bits = [int(blk[0]) & 1 for blk in qzz]
    out += sos_hdr(0, 0, 1, 0) + flush(bits)

    # scan 5: AC refinement over the full band
    bits = []
    for blk in qzz:
        ac_refine(bits, blk, 1, 63, 1, 0)
    out += sos_hdr(1, 63, 1, 0) + flush(bits)

    out += b"\xff\xd9"
    return out


def _plane_qzz(plane: np.ndarray) -> np.ndarray:
    """(H, W) plane → quantized zigzag blocks (n_blocks, 64) int64 in
    raster block order (edge-replication padding to 8-multiples), using
    the Annex-K luminance quant table — the same transform the gray
    encoder applies."""
    H, W = plane.shape
    ph, pw = -(-H // 8) * 8, -(-W // 8) * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:H, :W] = plane
    padded[H:, :W] = padded[H - 1 : H, :W]
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
    return q[:, _ZZ]


def jpeg_encode_rgb(img: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB image as baseline 4:4:4 JFIF with
    real chroma (JFIF RGB→YCbCr; Annex-K luminance tables for all three
    components — legal, if suboptimal for compression). Deterministic;
    the color counterpart of :func:`jpeg_encode_gray8` for fixtures and
    the decoder's color round-trip tests."""
    img = np.asarray(img, dtype=np.float64)
    H, W, _ = img.shape
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qzz = [_plane_qzz(p) for p in (y, cb, cr)]

    dc_enc = _enc_table(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_enc = _enc_table(_AC_LUM_BITS, _AC_LUM_VALS)
    parts: list = []
    bits: list = []
    preds = [0, 0, 0]
    n_mcu = len(qzz[0])
    for m in range(n_mcu):
        for ci in range(3):
            preds[ci] = _encode_block(
                qzz[ci][m], preds[ci], dc_enc, ac_enc, bits
            )
    while len(bits) % 8:
        bits.append(1)
    payload = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
    parts.append(payload.replace(b"\xff", b"\xff\x00"))
    stuffed = b"".join(parts)

    def seg(marker, body):
        ln = len(body) + 2
        return bytes([0xFF, marker, ln >> 8, ln & 0xFF]) + body

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(x) for x in _Q50_LUM))
    sof = [8, H >> 8, H & 0xFF, W >> 8, W & 0xFF, 3]
    for cid in (1, 2, 3):
        sof += [cid, 0x11, 0]
    out += seg(0xC0, bytes(sof))
    out += seg(0xC4, bytes([0x00] + _DC_LUM_BITS) + bytes(_DC_LUM_VALS))
    out += seg(0xC4, bytes([0x10] + _AC_LUM_BITS) + bytes(_AC_LUM_VALS))
    sos = [3]
    for cid in (1, 2, 3):
        sos += [cid, 0x00]
    sos += [0, 63, 0]
    out += seg(0xDA, bytes(sos))
    out += stuffed
    out += b"\xff\xd9"
    return out


def gt_cells_to_ctdar_xml(cells) -> str:
    """Serializer for cTDaR GT (shape mirrors the reference's own writer,
    dataset_editing/Table.py:49-57)."""
    root = ElementTree.Element("document")
    table = ElementTree.SubElement(root, "table")
    for c in cells:
        cell = ElementTree.SubElement(
            table,
            "cell",
            {
                "type": c["type"],
                "start-row": str(c["start_row"]),
                "end-row": str(c["end_row"]),
                "start-col": str(c["start_col"]),
                "end-col": str(c["end_col"]),
            },
        )
        pts = [(p["x"], p["y"]) for p in c["points"]]
        ElementTree.SubElement(
            cell, "Coords", {"points": points_to_coords_string(pts)}
        )
    return ElementTree.tostring(root, encoding="unicode")


def write_range_layout(df, path: str, keys: list, n_files: int = 8) -> None:
    """Range-cluster ``df`` on ``keys`` (``repartitionByRange`` plus
    ``sortWithinPartitions``) and write parquet whose row-group min/max
    statistics are tight along those keys."""
    (
        df.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )
