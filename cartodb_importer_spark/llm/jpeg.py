"""Pure-Python baseline + progressive JPEG decoder (stdlib + numpy).

Covers the overwhelmingly common web/camera encodings: baseline and
extended-sequential Huffman DCT (SOF0/SOF1), progressive Huffman DCT
(SOF2: spectral selection + successive approximation, DC/AC first and
refinement scans, EOB runs, interleaved and single-component scans),
8-bit samples, grayscale or YCbCr with 4:4:4 / 4:2:2 / 4:2:0 (any h/v
factors up to 2), restart intervals, and 0xFF byte stuffing. Arithmetic
coding, hierarchical/lossless frames, 12-bit precision, and CMYK raise
ValueError — the multimodal pipeline's declared stub boundary.

Design notes. Marker scan collects quantization tables (natural order),
Huffman tables (length-prefix dict: (nbits, code) -> symbol), the frame
geometry, and each scan's header (component->table map + Ss/Se/Ah/Al
spectral/approximation parameters, tables snapshotted per scan since DHT
may be redefined between scans). Baseline entropy decoding walks MCUs;
each 8x8 block is Huffman-decoded into zigzagged coefficients,
dequantized, un-zigzagged, and inverse-DCT'd with the exact separable
float DCT-III matrix (C.T @ block @ C) — libjpeg's fixed-point IDCTs
differ from this by at most ±1-2 levels, well inside quantization noise.
Progressive decoding accumulates per-block coefficient arrays across
scans (T.81 §G.2: DC first = diff<<Al, DC refine = one raw bit, AC first
= run/size with EOBRUN block skips, AC refine = correction-bit walk),
then dequantizes + IDCTs once at EOI. Chroma planes upsample by pixel
replication. Per-call Python cost is fine: calls run inside Arrow-batched
``mapInPandas`` workers over binary columns, and images are
fixture-scale in this container.
"""

from __future__ import annotations

import struct

import numpy as np

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

# exact separable 8-point DCT-III basis
_C = np.zeros((8, 8))
for _u in range(8):
    _a = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-RST marker. Restart markers are consumed by
    :meth:`restart` (byte-aligned by construction)."""

    def __init__(self, data: bytes, pos: int, strict: bool = True):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        #: strict (the baseline single-scan contract): a marker other
        #: than RSTn/EOI inside entropy data — a stray DHT/SOS from a
        #: corrupt or truncated stream — raises ValueError instead of
        #: silently decoding the remaining MCUs as zeros. Progressive
        #: per-scan readers pass strict=False: there the NEXT scan's
        #: SOS/DHT legitimately terminates this scan's segment and the
        #: reader must drain past it with zero padding.
        self.strict = strict
        #: zero bytes padded since the scan (or restart interval) began
        self.padded = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                self._pad()  # trailing EOB garbage
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif nxt == 0xFF:
                    # T.81 B.1.1.2: any number of 0xFF fill bytes may
                    # precede a marker (hardware encoders pad before
                    # RSTn/EOI). Consume one and re-examine — the last
                    # FF of the run pairs with the real marker byte.
                    self.pos += 1
                    continue
                else:
                    if self.strict and not (
                        0xD0 <= nxt <= 0xD7 or nxt == 0xD9
                    ):
                        raise ValueError(
                            f"unexpected marker 0xff{nxt:02x} in scan"
                        )
                    # segment-ending marker (RSTn, EOI — or, non-strict,
                    # the next scan's SOS/DHT): stop feeding real bits
                    # and pad with zeros
                    self._pad()
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    #: a complete scan needs at most one fill (4 bytes) of padding past
    #: its data; a strict reader that pads more is decoding blocks the
    #: data does not hold — a header claiming more rows than were coded
    MAX_PAD = 16

    def _pad(self) -> None:
        self.padded += 1
        if self.strict and self.padded > self.MAX_PAD:
            raise ValueError("scan data ends before the frame's last block")
        self.acc <<= 8
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

    def restart(self) -> None:
        """Consume an RSTn marker between restart intervals."""
        self.acc = 0
        self.nbits = 0
        self.padded = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing restart marker")


def _huff_decode(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad Huffman code")


def _extend(v: int, ssss: int) -> int:
    return v - (1 << ssss) + 1 if v < (1 << (ssss - 1)) else v


def _skip_entropy(d: bytes, pos: int) -> int:
    """Index of the first marker terminating an entropy-coded segment
    (skips 0xFF00 stuffing and RSTn)."""
    while pos < len(d) - 1:
        if d[pos] == 0xFF:
            nxt = d[pos + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            if nxt == 0xFF:  # fill byte
                pos += 1
                continue
            return pos
        pos += 1
    return len(d)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline or progressive JPEG -> (H, W, 3) uint8 RGB (grayscale
    broadcast)."""
    d = payload
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    progressive = False
    prog_scans: list[tuple] = []
    i = 2
    scan = None
    while i < len(d) - 1:
        if d[i] != 0xFF:
            i += 1
            continue
        m = d[i + 1]
        if m == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            i += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        ln = struct.unpack(">H", d[i + 2 : i + 4])[0]
        body = d[i + 4 : i + 2 + ln]
        if m == 0xDB:  # DQT: one or more tables
            p = 0
            while p < len(body):
                prec, tid = body[p] >> 4, body[p] & 0x0F
                p += 1
                if prec == 0:
                    vals = np.frombuffer(body, np.uint8, 64, p).astype(np.int32)
                    p += 64
                else:
                    vals = np.frombuffer(
                        body[p : p + 128], ">u2"
                    ).astype(np.int32)
                    p += 128
                nat = np.zeros(64, np.int32)
                nat[ZIGZAG] = vals
                qt[tid] = nat.reshape(8, 8)
        elif m == 0xC4:  # DHT: one or more tables
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                counts = body[p + 1 : p + 17]
                p += 17
                tbl: dict[tuple[int, int], int] = {}
                code = 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        tbl[(length, code)] = body[p]
                        code += 1
                        p += 1
                    code <<= 1
                huff[(tc, th)] = tbl
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / ext sequential / progressive
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("12-bit JPEG unsupported")
            progressive = m == 0xC2
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            frame = (h, w, comps)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline JPEG frame 0xff{m:02x} unsupported")
        elif m == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif m == 0xDA:  # SOS
            ns = body[0]
            smap = {}
            for c in range(ns):
                cid, tables = body[1 + 2 * c], body[2 + 2 * c]
                smap[cid] = (tables >> 4, tables & 0x0F)
            if not progressive:
                scan = (smap, i + 2 + ln)
                break
            # progressive: spectral selection + successive approximation
            ss, se, ahl = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            # snapshot the tables this scan resolves to — DHT may legally
            # be redefined between scans
            scomps = []
            for cid, (td, ta) in smap.items():
                dc_tbl = huff.get((0, td))
                ac_tbl = huff.get((1, ta))
                if ss == 0 and ah == 0 and dc_tbl is None:
                    raise ValueError("JPEG missing DHT table")
                if ss > 0 and ac_tbl is None:
                    raise ValueError("JPEG missing DHT table")
                scomps.append((cid, dc_tbl, ac_tbl))
            data_pos = i + 2 + ln
            prog_scans.append(
                (scomps, ss, se, ah, al, data_pos, restart_interval)
            )
            i = _skip_entropy(d, data_pos)
            continue
        i += 2 + ln
    if frame is None or (scan is None and not prog_scans):
        raise ValueError("JPEG missing SOF/SOS")
    height, width, comps = frame
    # dims come from an untrusted header: a corrupt SOF claiming
    # 65535x65535 would loop over ~67M MCUs of garbage before failing
    if not (0 < height * width <= 1 << 26):
        raise ValueError(f"JPEG dimensions {width}x{height} exceed decode ceiling")
    # every 8x8 block of the largest component costs at least one bit
    if ((height + 7) // 8) * ((width + 7) // 8) > 8 * len(d):
        raise ValueError(f"JPEG dimensions {width}x{height} exceed what its data can code")
    if progressive:
        if len(comps) not in (1, 3):
            raise ValueError("CMYK/multi-spectral JPEG unsupported")
        if len(comps) == 1:
            comps = [(comps[0][0], 1, 1, comps[0][3])]
        for _, _, _, tq in comps:
            if tq not in qt:
                raise ValueError("JPEG missing DQT table")
        planes = _decode_progressive(d, height, width, comps, prog_scans, qt)
        return _planes_to_rgb(planes, comps, height, width)
    if len(comps) not in (1, 3):
        raise ValueError("CMYK/multi-spectral JPEG unsupported")
    smap, data_pos = scan
    if set(smap) != {c[0] for c in comps}:
        # spec-legal non-interleaved form: several single-component scans
        # (cjpeg -scans). Decoding needs per-scan MCU geometry — out of
        # scope; fail with the documented boundary error, never KeyError.
        raise ValueError("non-interleaved multi-scan JPEG unsupported")
    if len(comps) == 1:
        # single-component scans always use 1x1 MCUs regardless of the
        # declared sampling factors (T.81 A.2.2)
        comps = [(comps[0][0], 1, 1, comps[0][3])]

    # every table the scan references must have been defined by a DQT/DHT
    # marker — a structurally valid stream missing one must fail with the
    # module's documented ValueError contract, not a bare KeyError
    for cid, _, _, tq in comps:
        if tq not in qt:
            raise ValueError("JPEG missing DQT table")
        if (0, smap[cid][0]) not in huff or (1, smap[cid][1]) not in huff:
            raise ValueError("JPEG missing DHT table")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = {
        cid: np.zeros((mcuy * 8 * vs, mcux * 8 * hs), np.float64)
        for cid, hs, vs, _ in comps
    }

    reader = _BitReader(d, data_pos)
    dc_pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                dc_pred = {cid: 0 for cid, *_ in comps}
            for cid, hs, vs, tq in comps:
                dc_tbl = huff[(0, smap[cid][0])]
                ac_tbl = huff[(1, smap[cid][1])]
                q = qt[tq]
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, np.int32)
                        ssss = _huff_decode(reader, dc_tbl)
                        diff = _extend(reader.bits(ssss), ssss) if ssss else 0
                        dc_pred[cid] += diff
                        zz[0] = dc_pred[cid]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_tbl)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.bits(s), s)
                            k += 1
                        coeffs = np.zeros(64, np.float64)
                        coeffs[ZIGZAG] = zz * q.reshape(-1)[ZIGZAG]
                        block = _C.T @ coeffs.reshape(8, 8) @ _C + 128.0
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1

    return _planes_to_rgb(planes, comps, height, width)


def _planes_to_rgb(
    planes: dict, comps: list, height: int, width: int
) -> np.ndarray:
    """Upsample component planes to full resolution and color-convert."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for cid, hs, vs, _ in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:height, :width])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _decode_progressive(
    d: bytes,
    height: int,
    width: int,
    comps: list,
    scans: list,
    qt: dict,
) -> dict:
    """T.81 §G.2 progressive decoding: accumulate per-block zigzag
    coefficient arrays across the scan sequence, then dequantize + IDCT
    once. Returns {cid: pixel plane} at each component's resolution."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    geom = {}  # cid -> (hs, vs, blocks_w, blocks_h non-interleaved)
    coef = {}
    for cid, hs, vs, _ in comps:
        comp_w = (width * hs + hmax - 1) // hmax
        comp_h = (height * vs + vmax - 1) // vmax
        bw = (comp_w + 7) // 8
        bh = (comp_h + 7) // 8
        geom[cid] = (hs, vs, bw, bh)
        # MCU-padded grid so interleaved scans can write edge padding
        coef[cid] = np.zeros((mcuy * vs, mcux * hs, 64), np.int64)

    for scomps, ss, se, ah, al, pos, ri in scans:
        if ss == 0 and se != 0:
            raise ValueError("bad progressive scan: DC scan with Se != 0")
        if ss > 0 and len(scomps) != 1:
            raise ValueError("bad progressive scan: interleaved AC scan")
        reader = _BitReader(d, pos, strict=False)
        state = {"eobrun": 0}
        preds = {cid: 0 for cid, *_ in scomps}

        def _restart():
            reader.restart()
            state["eobrun"] = 0
            for c in preds:
                preds[c] = 0

        if len(scomps) == 1:
            cid, dc_tbl, ac_tbl = scomps[0]
            _, _, bw, bh = geom[cid]
            n = 0
            for by in range(bh):
                for bx in range(bw):
                    if ri and n and n % ri == 0:
                        _restart()
                    _decode_prog_block(
                        reader, coef[cid][by, bx], ss, se, ah, al,
                        dc_tbl, ac_tbl, preds, cid, state,
                    )
                    n += 1
        else:
            byid = {c[0]: c for c in comps}
            n = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if ri and n and n % ri == 0:
                        _restart()
                    for cid, dc_tbl, ac_tbl in scomps:
                        _, hs, vs, _ = byid[cid]
                        for by in range(vs):
                            for bx in range(hs):
                                _decode_prog_block(
                                    reader,
                                    coef[cid][my * vs + by, mx * hs + bx],
                                    ss, se, ah, al, dc_tbl, ac_tbl,
                                    preds, cid, state,
                                )
                    n += 1

    # dequantize + IDCT, vectorized per component
    planes = {}
    for cid, hs, vs, tq in comps:
        qzz = qt[tq].reshape(-1)[ZIGZAG].astype(np.int64)
        zz = coef[cid] * qzz  # (BH, BW, 64) zigzag order
        nat = np.zeros_like(zz, dtype=np.float64)
        nat[:, :, ZIGZAG] = zz
        bh, bw = nat.shape[:2]
        blocks = nat.reshape(bh, bw, 8, 8)
        pix = np.einsum("ux,ijuv,vy->ijxy", _C, blocks, _C) + 128.0
        planes[cid] = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return planes


def _decode_prog_block(
    reader: "_BitReader",
    blk: np.ndarray,
    ss: int,
    se: int,
    ah: int,
    al: int,
    dc_tbl: dict | None,
    ac_tbl: dict | None,
    preds: dict,
    cid: int,
    state: dict,
) -> None:
    """Decode one block's contribution for one progressive scan (G.2):
    four cases by (band, first-vs-refinement)."""
    if ss == 0:
        if ah == 0:  # DC first
            ssss = _huff_decode(reader, dc_tbl)
            diff = _extend(reader.bits(ssss), ssss) if ssss else 0
            preds[cid] += diff
            blk[0] = preds[cid] << al
        else:  # DC refinement: one raw bit
            if reader.bit():
                blk[0] |= 1 << al
        return
    if ah == 0:  # AC first
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                blk[k] = _extend(reader.bits(s), s) << al
                k += 1
            else:
                if r != 15:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += reader.bits(r)
                    break
                k += 16  # ZRL
        return
    # AC refinement (jdphuff-style correction-bit walk)
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad AC refinement symbol")
                s = p1 if reader.bit() else m1
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = s
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            c = int(blk[k])
            if c != 0 and reader.bit() and (c & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        state["eobrun"] -= 1


# --------------------------------------------------------------- encoder
# Annex K example tables — the fixture-builder counterpart of decode_jpeg
# (4:4:4, no subsampling, quality fixed by the table scale).

_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], np.int32).reshape(8, 8)
_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], np.int32).reshape(8, 8)

# Annex K Huffman specs: (bits[1..16], values)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
         list(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
         list(range(12)))
_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _enc_table(spec) -> dict[int, tuple[int, int]]:
    """Huffman spec -> {symbol: (code, nbits)}."""
    bits, values = spec
    out = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s... use 0b1 pads
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (ssss, raw bits) per the JPEG magnitude coding."""
    if v == 0:
        return 0, 0
    a = abs(v)
    ssss = a.bit_length()
    raw = v if v > 0 else v + (1 << ssss) - 1
    return ssss, raw


def encode_jpeg(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> baseline 4:4:4 JPEG (Annex K tables) — the
    fixture counterpart of decode_jpeg; round-trips within quantization
    noise (PSNR > ~30 dB on natural content)."""
    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    dc_l, ac_l = _enc_table(_DC_L), _enc_table(_AC_L)
    dc_c, ac_c = _enc_table(_DC_C), _enc_table(_AC_C)
    bw = _BitWriter()
    mcux = (w + 7) // 8
    mcuy = (h + 7) // 8
    planes = []
    for p in (y, cb, cr):
        padded = np.empty((mcuy * 8, mcux * 8))
        padded[:h, :w] = p
        padded[h:, :w] = p[-1:, :]
        padded[:, w:] = padded[:, w - 1 : w]
        planes.append(padded)
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, plane in enumerate(planes):
                q = _QL if ci == 0 else _QC
                dct_t = dc_l if ci == 0 else dc_c
                act_t = ac_l if ci == 0 else ac_c
                block = plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] - 128.0
                coeffs = _C @ block @ _C.T
                zz = np.round(coeffs / q).astype(np.int32).reshape(-1)[ZIGZAG]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                ssss, raw = _magnitude(diff)
                code, n = dct_t[ssss]
                bw.write(code, n)
                if ssss:
                    bw.write(raw, ssss)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, n = act_t[0xF0]  # ZRL
                        bw.write(code, n)
                        run -= 16
                    s, raw = _magnitude(v)
                    code, n = act_t[(run << 4) | s]
                    bw.write(code, n)
                    bw.write(raw, s)
                    run = 0
                if run:
                    code, n = act_t[0x00]  # EOB
                    bw.write(code, n)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dqt(tid: int, q: np.ndarray) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(
            int(x) for x in q.reshape(-1)[ZIGZAG]
        ))

    def dht(tc: int, th: int, spec) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 3)
              + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8"
        + dqt(0, _QL) + dqt(1, _QC)
        + dht(0, 0, _DC_L) + dht(1, 0, _AC_L)
        + dht(0, 1, _DC_C) + dht(1, 1, _AC_C)
        + sof + sos + bw.flush() + b"\xff\xd9"
    )


# ------------------------------------------------- progressive encoder


def _dct_quantized(rgb: np.ndarray):
    """(H, W, 3) -> per-component (mcuy, mcux, 64) quantized zigzag
    coefficient arrays (4:4:4, Annex K tables) — shared front half of the
    encoders."""
    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    mcux = (w + 7) // 8
    mcuy = (h + 7) // 8
    out = []
    for ci, p in enumerate((y, cb, cr)):
        q = _QL if ci == 0 else _QC
        padded = np.empty((mcuy * 8, mcux * 8))
        padded[:h, :w] = p
        padded[h:, :w] = p[-1:, :]
        padded[:, w:] = padded[:, w - 1 : w]
        blocks = (
            padded.reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3) - 128.0
        )
        coeffs = np.einsum("xu,ijuv,yv->ijxy", _C, blocks, _C)
        # zigzag reorder: natural (8,8) flattened -> zigzag positions
        natf = np.round(coeffs / q).astype(np.int64).reshape(mcuy, mcux, 64)
        out.append(natf[:, :, ZIGZAG])
    return h, w, mcuy, mcux, out


def _shift_to_zero(v: int, al: int) -> int:
    """Point transform for AC coefficients: divide by 2^Al truncating
    toward zero (G.1.2.2)."""
    return v >> al if v >= 0 else -((-v) >> al)


def encode_jpeg_progressive(rgb: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> progressive 4:4:4 JPEG exercising the full G.2
    scan taxonomy: interleaved DC first at Al=1, interleaved DC
    refinement, per-component AC first scans with a split spectral band
    for luma (Ss 1-5 then 6-63) at Al=1, and matching AC refinement
    scans at Al=0. Uses the Annex K tables, which lack the EOBn symbols
    for runs > 1, so every AC scan ends blocks with plain EOB (EOBRUN=1)
    — spec-legal, and the decoder handles longer runs from other
    encoders independently."""
    h, w, mcuy, mcux, zz = _dct_quantized(rgb)
    dc_l, ac_l = _enc_table(_DC_L), _enc_table(_AC_L)
    dc_c, ac_c = _enc_table(_DC_C), _enc_table(_AC_C)
    dc_tabs = [dc_l, dc_c, dc_c]
    ac_tabs = [ac_l, ac_c, ac_c]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dqt(tid: int, q: np.ndarray) -> bytes:
        return seg(
            0xDB, bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[ZIGZAG])
        )

    def dht(tc: int, th: int, spec) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(values))

    def sos(comp_tabs: list, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_tabs)])
        for cid, td, ta in comp_tabs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    out = bytearray(b"\xff\xd8")
    out += dqt(0, _QL) + dqt(1, _QC)
    out += dht(0, 0, _DC_L) + dht(1, 0, _AC_L)
    out += dht(0, 1, _DC_C) + dht(1, 1, _AC_C)
    out += seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )

    # scan 1: DC first, all components interleaved, Al=1
    out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1)
    bw_ = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(3):
                v = int(zz[ci][my, mx, 0]) >> 1  # DC point transform: >>Al
                diff = v - preds[ci]
                preds[ci] = v
                ssss, raw = _magnitude(diff)
                code, n = dc_tabs[ci][ssss]
                bw_.write(code, n)
                if ssss:
                    bw_.write(raw, ssss)
    out += bw_.flush()

    # scan 2: DC refinement, Al=0 — one raw bit per block
    out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 1, 0)
    bw_ = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(3):
                bw_.write(int(zz[ci][my, mx, 0]) & 1, 1)
    out += bw_.flush()

    # AC first scans at Al=1 (luma split into two spectral bands)
    bands = [(0, 1, 5), (0, 6, 63), (1, 1, 63), (2, 1, 63)]
    for ci, ss, se in bands:
        out += sos([(ci + 1, 0, 0 if ci == 0 else 1)], ss, se, 0, 1)
        bw_ = _BitWriter()
        act = ac_tabs[ci]
        for my in range(mcuy):
            for mx in range(mcux):
                blk = zz[ci][my, mx]
                run = 0
                for k in range(ss, se + 1):
                    v = _shift_to_zero(int(blk[k]), 1)
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, n = act[0xF0]
                        bw_.write(code, n)
                        run -= 16
                    s, raw = _magnitude(v)
                    code, n = act[(run << 4) | s]
                    bw_.write(code, n)
                    bw_.write(raw, s)
                    run = 0
                if run:
                    code, n = act[0x00]  # EOB (EOBRUN=1)
                    bw_.write(code, n)
        out += bw_.flush()

    # AC refinement scans at Al=0 (jcphuff-style correction-bit walk)
    for ci, ss, se in bands:
        out += sos([(ci + 1, 0, 0 if ci == 0 else 1)], ss, se, 1, 0)
        bw_ = _BitWriter()
        act = ac_tabs[ci]
        for my in range(mcuy):
            for mx in range(mcux):
                blk = zz[ci][my, mx]
                absv = [abs(int(blk[k])) for k in range(ss, se + 1)]
                eob = -1  # index (relative) of last newly-nonzero coef
                for idx, a in enumerate(absv):
                    if a == 1:
                        eob = idx
                run = 0
                pending: list[int] = []
                for idx, a in enumerate(absv):
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and idx <= eob:
                        code, n = act[0xF0]
                        bw_.write(code, n)
                        run -= 16
                        for bit in pending:
                            bw_.write(bit, 1)
                        pending = []
                    if a > 1:
                        pending.append(a & 1)  # correction bit
                        continue
                    # newly nonzero (|v| == 1): symbol, sign, buffered bits
                    code, n = act[(run << 4) | 1]
                    bw_.write(code, n)
                    bw_.write(1 if int(blk[ss + idx]) > 0 else 0, 1)
                    for bit in pending:
                        bw_.write(bit, 1)
                    pending = []
                    run = 0
                if run > 0 or pending:
                    code, n = act[0x00]  # EOB (EOBRUN=1)
                    bw_.write(code, n)
                    for bit in pending:
                        bw_.write(bit, 1)
        out += bw_.flush()

    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------- Exif orientation


def jpeg_exif_orientation(payload: bytes) -> int:
    """Exif Orientation (tag 274) from the APP1 segment, 1 if absent or
    unreadable. The APP1 body after the 'Exif\\0\\0' signature is a TIFF
    byte stream — parsed by readers/tiff.py's IFD walker."""
    d = payload
    if d[:2] != b"\xff\xd8":
        return 1
    i = 2
    while i < len(d) - 3:
        if d[i] != 0xFF:
            break
        m = d[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m in (0xDA, 0xD9):
            break
        ln = struct.unpack(">H", d[i + 2 : i + 4])[0]
        if m == 0xE1 and d[i + 4 : i + 10] == b"Exif\x00\x00":
            from ..readers.tiff import parse_tiff

            try:
                tags = parse_tiff(d[i + 10 : i + 2 + ln])
                val = tags.get(274)
                if val and 1 <= int(val[0]) <= 8:
                    return int(val[0])
            except Exception:  # noqa: BLE001 — malformed Exif is "no Exif"
                return 1
            return 1
        i += 2 + ln
    return 1


def apply_exif_orientation(rgb: np.ndarray, orientation: int) -> np.ndarray:
    """Map a decoded image to display orientation (Exif tag 274
    semantics, orientations 1-8)."""
    if orientation == 2:
        return rgb[:, ::-1]
    if orientation == 3:
        return rgb[::-1, ::-1]
    if orientation == 4:
        return rgb[::-1, :]
    if orientation == 5:
        return np.transpose(rgb, (1, 0, 2))
    if orientation == 6:
        return np.transpose(rgb, (1, 0, 2))[:, ::-1]
    if orientation == 7:
        return np.transpose(rgb, (1, 0, 2))[::-1, ::-1]
    if orientation == 8:
        return np.transpose(rgb, (1, 0, 2))[::-1, :]
    return rgb


def decode_jpeg_oriented(payload: bytes) -> np.ndarray:
    """decode_jpeg + Exif orientation applied — what a browser shows.
    This is the image-pipeline entry point (codecs.IMAGE_DECODERS);
    decode_jpeg itself stays raw-sensor order."""
    return apply_exif_orientation(
        decode_jpeg(payload), jpeg_exif_orientation(payload)
    )
