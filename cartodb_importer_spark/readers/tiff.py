"""Minimal pure-Python classic TIFF/GeoTIFF reader.

Covers the subset the raster import path (O18, importer.rb:406-459)
decodes: classic AND BigTIFF containers, either byte order, strip- OR
tile-organized, integer or float samples, band 1, with the compression
schemes that need no native codec:

* 1     — uncompressed
* 5     — TIFF-LZW (MSB-first variable-width codes, early change)
* 8 / 32946 — DEFLATE (stdlib zlib)
* 32773 — PackBits RLE

plus Predictor=2 (horizontal differencing, the usual companion of LZW/
DEFLATE) and Predictor=3 (TechNote 3 floating-point byte-plane
differencing). GeoTIFF georeferencing is read from ModelPixelScale/
ModelTiepoint and the EPSG code from the GeoKey directory
(GeographicType 2048 / ProjectedCSType 3072 keys).

plus (r05):

* 2 / 3 / 4 — CCITT Group 3/4 fax (Modified Huffman 1D rows, T.4 with
  EOL + 1D/2D flag rows, T.6 pure-2D MMR) for bilevel rasters, with the
  standard T.4 white/black terminating + makeup + extended-makeup code
  tables (validated against JDK ImageIO-written fixtures);
* 7     — new-style JPEG-in-TIFF: each strip/tile is a JPEG stream
  (abbreviated streams merged with the JPEGTables tag 347), decoded by
  the engine's own baseline+progressive decoder (llm/jpeg.py).

* 6     — old-style JPEG-in-TIFF in its interchange-stream form (tags
  513/514 pointing at one complete JPEG stream, the only form libtiff
  writes); the tag-driven split-table variant (512/515-521) raises.

Anything outside that subset (tag-driven old-style JPEG, JBIG, ...)
raises ValueError, and so does an import of such a file.
"""

from __future__ import annotations

import struct

import numpy as np

# field type -> (struct code, size)
_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("s", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: ("II", 8),  # RATIONAL
    7: ("B", 1),   # UNDEFINED (raw bytes, e.g. JPEGTables)
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
    16: ("Q", 8),  # LONG8 (BigTIFF)
    17: ("q", 8),  # SLONG8 (BigTIFF)
    18: ("Q", 8),  # IFD8 (BigTIFF)
}


def _read_ifd_values(
    data: bytes, bo: str, ftype: int, count: int, raw: bytes, inline: int
):
    """``raw`` is the entry's value field (4 bytes classic, 8 BigTIFF);
    larger payloads live at the offset it encodes."""
    code, size = _TYPES.get(ftype, (None, None))
    if code is None:
        return None
    total = size * count
    if total > len(data):
        # a corrupt count field (u32/u64 garbage) would otherwise build
        # a gigabyte-scale struct format string below
        return None
    buf = raw[:total] if total <= inline else None
    if buf is None:
        offset = struct.unpack(bo + ("I" if inline == 4 else "Q"), raw)[0]
        buf = data[offset : offset + total]
    if ftype == 2:
        return buf.rstrip(b"\x00").decode("ascii", "replace")
    if ftype == 5:
        vals = struct.unpack(bo + "II" * count, buf)
        return [vals[i] / vals[i + 1] if vals[i + 1] else 0.0 for i in range(0, len(vals), 2)]
    return list(struct.unpack(bo + code * count, buf[:total]))


def parse_tiff(data: bytes) -> dict:
    """Parse the first IFD of a classic OR BigTIFF file into a
    {tag: values} dict. BigTIFF (magic 43): 8-byte IFD offsets, 8-entry
    counts, 20-byte entries with an 8-byte inline value field, and the
    LONG8/SLONG8/IFD8 field types — same tags otherwise."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic = struct.unpack_from(bo + "H", data, 2)[0]
    tags: dict[int, object] = {"__bo__": bo}
    if magic == 43:
        offsize, reserved = struct.unpack_from(bo + "HH", data, 4)
        if offsize != 8 or reserved != 0:
            raise ValueError("malformed BigTIFF header")
        ifd_off = struct.unpack_from(bo + "Q", data, 8)[0]
        n = struct.unpack_from(bo + "Q", data, ifd_off)[0]
        for i in range(n):
            base = ifd_off + 8 + i * 20
            tag, ftype = struct.unpack_from(bo + "HH", data, base)
            count = struct.unpack_from(bo + "Q", data, base + 4)[0]
            val = _read_ifd_values(
                data, bo, ftype, count, data[base + 12 : base + 20], 8
            )
            if val is not None:  # unparseable entry = absent tag
                tags[tag] = val
        return tags
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    ifd_off = struct.unpack_from(bo + "I", data, 4)[0]
    n = struct.unpack_from(bo + "H", data, ifd_off)[0]
    for i in range(n):
        base = ifd_off + 2 + i * 12
        tag, ftype, count = struct.unpack_from(bo + "HHI", data, base)
        val = _read_ifd_values(
            data, bo, ftype, count, data[base + 8 : base + 12], 4
        )
        if val is not None:  # unparseable entry = absent tag
            tags[tag] = val
    return tags


def _dtype(bits: int, sample_format: int, bo: str):
    if bits not in (8, 16, 32, 64):
        raise ValueError(f"unsupported TIFF sample width {bits}")
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format, "u")
    return np.dtype(f"{bo}{kind}{bits // 8}")


def _packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (TIFF 6.0 §9): n<128 -> copy n+1 literals; n>128 ->
    repeat next byte 257-n times; 128 -> noop."""
    out = bytearray()
    i = 0
    ln = len(data)
    while i < ln:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 9->12 bit
    codes, ClearCode=256, EOI=257, 'early change' width bump at
    next_code == 2^width - 1."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits:
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 3].ljust(3, b"\0"), "big")
        code = (chunk >> (24 - width - (bitpos & 7))) & ((1 << width) - 1)
        bitpos += width
        if code == EOI:
            break
        if code == CLEAR:
            reset()
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out)


# ------------------------------------------------- CCITT G3/G4 (T.4/T.6)
# Standard T.4 Modified Huffman run-length codes: {bitstring: run}.

_MH_WHITE = {
    "00110101": 0, "000111": 1, "0111": 2, "1000": 3, "1011": 4,
    "1100": 5, "1110": 6, "1111": 7, "10011": 8, "10100": 9,
    "00111": 10, "01000": 11, "001000": 12, "000011": 13, "110100": 14,
    "110101": 15, "101010": 16, "101011": 17, "0100111": 18,
    "0001100": 19, "0001000": 20, "0010111": 21, "0000011": 22,
    "0000100": 23, "0101000": 24, "0101011": 25, "0010011": 26,
    "0100100": 27, "0011000": 28, "00000010": 29, "00000011": 30,
    "00011010": 31, "00011011": 32, "00010010": 33, "00010011": 34,
    "00010100": 35, "00010101": 36, "00010110": 37, "00010111": 38,
    "00101000": 39, "00101001": 40, "00101010": 41, "00101011": 42,
    "00101100": 43, "00101101": 44, "00000100": 45, "00000101": 46,
    "00001010": 47, "00001011": 48, "01010010": 49, "01010011": 50,
    "01010100": 51, "01010101": 52, "00100100": 53, "00100101": 54,
    "01011000": 55, "01011001": 56, "01011010": 57, "01011011": 58,
    "01001010": 59, "01001011": 60, "00110010": 61, "00110011": 62,
    "00110100": 63,
    # makeup
    "11011": 64, "10010": 128, "010111": 192, "0110111": 256,
    "00110110": 320, "00110111": 384, "01100100": 448, "01100101": 512,
    "01101000": 576, "01100111": 640, "011001100": 704, "011001101": 768,
    "011010010": 832, "011010011": 896, "011010100": 960,
    "011010101": 1024, "011010110": 1088, "011010111": 1152,
    "011011000": 1216, "011011001": 1280, "011011010": 1344,
    "011011011": 1408, "010011000": 1472, "010011001": 1536,
    "010011010": 1600, "011000": 1664, "010011011": 1728,
}
_MH_BLACK = {
    "0000110111": 0, "010": 1, "11": 2, "10": 3, "011": 4, "0011": 5,
    "0010": 6, "00011": 7, "000101": 8, "000100": 9, "0000100": 10,
    "0000101": 11, "0000111": 12, "00000100": 13, "00000111": 14,
    "000011000": 15, "0000010111": 16, "0000011000": 17,
    "0000001000": 18, "00001100111": 19, "00001101000": 20,
    "00001101100": 21, "00000110111": 22, "00000101000": 23,
    "00000010111": 24, "00000011000": 25, "000011001010": 26,
    "000011001011": 27, "000011001100": 28, "000011001101": 29,
    "000001101000": 30, "000001101001": 31, "000001101010": 32,
    "000001101011": 33, "000011010010": 34, "000011010011": 35,
    "000011010100": 36, "000011010101": 37, "000011010110": 38,
    "000011010111": 39, "000001101100": 40, "000001101101": 41,
    "000011011010": 42, "000011011011": 43, "000001010100": 44,
    "000001010101": 45, "000001010110": 46, "000001010111": 47,
    "000001100100": 48, "000001100101": 49, "000001010010": 50,
    "000001010011": 51, "000000100100": 52, "000000110111": 53,
    "000000111000": 54, "000000100111": 55, "000000101000": 56,
    "000001011000": 57, "000001011001": 58, "000000101011": 59,
    "000000101100": 60, "000001011010": 61, "000001100110": 62,
    "000001100111": 63,
    # makeup
    "0000001111": 64, "000011001000": 128, "000011001001": 192,
    "000001011011": 256, "000000110011": 320, "000000110100": 384,
    "000000110101": 448, "0000001101100": 512, "0000001101101": 576,
    "0000001001010": 640, "0000001001011": 704, "0000001001100": 768,
    "0000001001101": 832, "0000001110010": 896, "0000001110011": 960,
    "0000001110100": 1024, "0000001110101": 1088, "0000001110110": 1152,
    "0000001110111": 1216, "0000001010010": 1280, "0000001010011": 1344,
    "0000001010100": 1408, "0000001010101": 1472, "0000001011010": 1536,
    "0000001011011": 1600, "0000001100100": 1664, "0000001100101": 1728,
}
# extended makeups (T.4 Table 3b, shared by both colors)
_MH_EXT = {
    "00000001000": 1792, "00000001100": 1856, "00000001101": 1920,
    "000000010010": 1984, "000000010011": 2048, "000000010100": 2112,
    "000000010101": 2176, "000000010110": 2240, "000000010111": 2304,
    "000000011100": 2368, "000000011101": 2432, "000000011110": 2496,
    "000000011111": 2560,
}
_MH_WHITE.update(_MH_EXT)
_MH_BLACK.update(_MH_EXT)

#: decode dicts keyed (nbits, code) like the JPEG tables
_MH_TABLES = []
for _tbl in (_MH_WHITE, _MH_BLACK):
    _MH_TABLES.append(
        {(len(k), int(k, 2)): v for k, v in _tbl.items()}
    )


class _FaxBits:
    """MSB-first bit reader for CCITT entropy data (no byte unstuffing)."""

    def __init__(self, data: bytes):
        self.data = data
        self.bitpos = 0

    def bit(self) -> int:
        byte = self.bitpos >> 3
        if byte >= len(self.data):
            raise ValueError("CCITT stream truncated")
        b = (self.data[byte] >> (7 - (self.bitpos & 7))) & 1
        self.bitpos += 1
        return b

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    def exhausted(self) -> bool:
        return self.bitpos >= 8 * len(self.data)


def _mh_code(bits: _FaxBits, color: int) -> int:
    """Decode one T.4 run-length code for the given color (0=white)."""
    table = _MH_TABLES[color]
    code = 0
    for length in range(1, 15):
        code = (code << 1) | bits.bit()
        run = table.get((length, code))
        if run is not None:
            return run
    raise ValueError("bad CCITT run-length code")


def _mh_run(bits: _FaxBits, color: int) -> int:
    """Full run: zero or more makeup codes (>=64) then a terminator."""
    total = 0
    while True:
        run = _mh_code(bits, color)
        total += run
        if run < 64:
            return total


def _fax_row_1d(bits: _FaxBits, width: int) -> np.ndarray:
    """One Modified-Huffman 1D row: alternating white/black runs."""
    row = np.zeros(width, np.uint8)
    pos = 0
    color = 0
    # zero-length runs are legal, but a malformed stream alternating
    # them forever must terminate: bound the mode-code count per row
    budget = 4 * width + 64
    while pos < width:
        budget -= 1
        if budget <= 0:
            raise ValueError("CCITT 1D row does not converge")
        run = _mh_run(bits, color)
        if color:
            row[pos : pos + run] = 1
        pos += run
        color ^= 1
    if pos != width:
        raise ValueError("CCITT 1D row overruns width")
    return row


def _transitions(row: np.ndarray) -> list[int]:
    """Changing-element positions (color differs from pixel to the left;
    row starts from imaginary white)."""
    prev = np.concatenate(([0], row[:-1]))
    return np.nonzero(row != prev)[0].tolist()


def _fax_row_2d(bits: _FaxBits, width: int, ref: list[int]) -> np.ndarray:
    """One 2D-coded row (T.4 2D / T.6 MMR) against reference transitions."""
    row = np.zeros(width, np.uint8)
    a0 = -1
    color = 0
    budget = 4 * width + 64  # malformed-stream progress bound
    while a0 < width:
        budget -= 1
        if budget <= 0:
            raise ValueError("CCITT 2D row does not converge")
        # locate b1: first reference transition > a0 whose index parity
        # matches the current color (even = white->black starts)
        i = 0
        while i < len(ref) and (ref[i] <= a0 or (i & 1) != color):
            i += 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width

        # mode code (T.4 table 4): V0=1, VR1=011, VL1=010, H=001,
        # P=0001, VR2=000011, VL2=000010, VR3=0000011, VL3=0000010
        if bits.bit():
            mode = ("V", 0)
        elif bits.bit():
            mode = ("V", 1) if bits.bit() else ("V", -1)
        elif bits.bit():
            mode = ("H", 0)
        elif bits.bit():
            mode = ("P", 0)
        elif bits.bit():
            mode = ("V", 2) if bits.bit() else ("V", -2)
        elif bits.bit():
            mode = ("V", 3) if bits.bit() else ("V", -3)
        else:
            raise ValueError(
                "CCITT extension/uncompressed mode unsupported"
            )

        start = max(a0, 0)
        if mode[0] == "P":
            if color:
                row[start:b2] = 1
            a0 = b2
        elif mode[0] == "H":
            r1 = _mh_run(bits, color)
            r2 = _mh_run(bits, color ^ 1)
            a1 = start + r1
            a2 = a1 + r2
            if a2 > width:
                raise ValueError("CCITT horizontal run overruns width")
            if color:
                row[start:a1] = 1
            else:
                row[a1:a2] = 1
            a0 = a2
        else:
            a1 = b1 + mode[1]
            if a1 < 0 or a1 > width:
                raise ValueError("CCITT vertical run out of range")
            if color:
                row[start:a1] = 1
            a0 = a1
            color ^= 1
    return row


def _ccitt_eol(bits: _FaxBits) -> None:
    """Consume fill bits + an EOL (>=11 zeros then a 1)."""
    zeros = 0
    while True:
        if bits.bit():
            if zeros < 11:
                raise ValueError("bad CCITT EOL")
            return
        zeros += 1
        if zeros > 64 + 11:
            raise ValueError("CCITT fill run too long")


def _ccitt_decode(
    raw: bytes, width: int, nrows: int, compression: int, t4_options: int
) -> np.ndarray:
    """CCITT strip -> (nrows, width) uint8 with file-bit semantics
    (0 = white under PhotometricInterpretation 0)."""
    bits = _FaxBits(raw)
    rows = []
    ref = [width, width]
    for _ in range(nrows):
        if compression == 2:
            # Modified Huffman: every row starts byte-aligned, 1D
            bits.align()
            row = _fax_row_1d(bits, width)
        elif compression == 3:
            _ccitt_eol(bits)
            if t4_options & 1:  # 2D mode: EOL carries a 1D/2D flag bit
                row = (
                    _fax_row_1d(bits, width)
                    if bits.bit()
                    else _fax_row_2d(bits, width, ref)
                )
            else:
                row = _fax_row_1d(bits, width)
        else:  # 4: T.6 MMR, pure 2D, no EOLs
            row = _fax_row_2d(bits, width, ref)
        rows.append(row)
        ref = _transitions(row) + [width, width]
    return np.stack(rows)


def _jpeg_strip(raw: bytes, tables: bytes | None) -> np.ndarray:
    """Compression-7 strip/tile: a JPEG stream, abbreviated streams
    merged with the JPEGTables tag payload. Returns (H, W, 3) uint8."""
    from ..llm.jpeg import decode_jpeg

    if raw[:2] != b"\xff\xd8":
        raise ValueError("JPEG-in-TIFF strip missing SOI")
    if tables and len(tables) > 4:
        # tables stream: SOI + table segments + EOI; splice strip body in
        head = tables[2:]
        if head.endswith(b"\xff\xd9"):
            head = head[:-2]
        raw = b"\xff\xd8" + head + raw[2:]
    return decode_jpeg(raw)


def _decompress_strip(raw: bytes, compression: int) -> bytes:
    if compression == 1:
        return raw
    if compression in (8, 32946):  # DEFLATE / AdobeDeflate
        import zlib

        return zlib.decompress(raw)
    if compression == 32773:
        return _packbits_decode(raw)
    if compression == 5:
        return _lzw_decode(raw)
    raise ValueError(f"unsupported TIFF compression {compression}")


def _undo_predictor(block: np.ndarray, bits: int, spp: int, dt) -> np.ndarray:
    """Undo TIFF predictor 2 (horizontal differencing): each sample stores
    the delta to the same channel of the previous pixel; a wrapping
    cumulative sum per row restores the values."""
    if dt.kind == "f":
        raise ValueError("predictor 2 with float samples unsupported")
    wide = block.astype(np.int64).cumsum(
        axis=1 if spp > 1 else -1, dtype=np.int64
    )
    return (wide & ((1 << bits) - 1)).astype(dt)


def _undo_float_predictor(
    raw: bytes, nrows: int, rowsamples: int, itemsize: int, bo: str
) -> np.ndarray:
    """Undo TIFF predictor 3 (TechNote 3 floating-point prediction): each
    row's samples are split into big-endian byte planes (all byte-0s, then
    all byte-1s, ...) and horizontally byte-differenced. Reverse: wrapping
    byte cumsum per row, then reassemble planes into big-endian floats."""
    rowbytes = rowsamples * itemsize
    arr = np.frombuffer(raw, np.uint8, count=nrows * rowbytes).reshape(
        nrows, rowbytes
    )
    arr = (arr.astype(np.int64).cumsum(axis=1) & 0xFF).astype(np.uint8)
    planes = arr.reshape(nrows, itemsize, rowsamples)
    be = np.transpose(planes, (0, 2, 1)).reshape(nrows, rowbytes)
    floats = np.frombuffer(
        np.ascontiguousarray(be).tobytes(), dtype=np.dtype(f">f{itemsize}")
    ).reshape(nrows, rowsamples)
    return floats.astype(np.dtype(f"{bo}f{itemsize}"))


def decode_tiff(data: bytes, _full: bool = False) -> tuple[np.ndarray, dict]:
    """Strip- OR tile-organized TIFF -> (band-1 2D array, georef metadata).

    metadata keys: srid (int, 0 if absent), pixel_scale (x, y) or None,
    tiepoint (i, j, k, x, y, z) or None, samples_per_pixel.
    """
    t = parse_tiff(data)
    bo = t["__bo__"]
    compression = int(t.get(259, [1])[0])
    predictor = int(t.get(317, [1])[0])
    if predictor not in (1, 2, 3):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if 256 not in t or 257 not in t:
        raise ValueError("TIFF missing ImageWidth/ImageLength")
    width = int(t[256][0])
    height = int(t[257][0])
    spp = int(t.get(277, [1])[0])
    # untrusted header guard: per-row decode loops (CCITT, RLE) would
    # otherwise chew through billions of phantom pixels before failing
    if not (0 < width * height * max(spp, 1) <= 1 << 28):
        raise ValueError(
            f"TIFF dimensions {width}x{height}x{spp} exceed decode ceiling"
        )
    bits = int(t.get(258, [8])[0])
    fmt = int(t.get(339, [1])[0])
    dt = _dtype(bits, fmt, bo) if bits >= 8 else None
    if dt is None and compression not in (2, 3, 4):
        raise ValueError(
            f"sub-8-bit TIFF samples ({bits}-bit) require CCITT compression"
        )
    if predictor == 3 and (dt is None or dt.kind != "f"):
        raise ValueError("predictor 3 requires float samples")

    band1 = None
    if compression in (2, 3, 4):
        # CCITT fax: bilevel, strip-organized; the 2D reference line
        # resets at each strip boundary
        offsets = t.get(273)
        counts = t.get(279)
        if offsets is None or counts is None:
            raise ValueError("CCITT TIFF missing strip offsets/counts")
        rows_per_strip = int(t.get(278, [height])[0])
        t4opts = int(
            t.get(292 if compression == 3 else 293, [0])[0]
        )
        if compression == 4 and t4opts & 2:
            raise ValueError("CCITT T.6 uncompressed mode unsupported")
        parts = []
        for si, off in enumerate(offsets):
            nrows = min(rows_per_strip, height - si * rows_per_strip)
            raw = data[off : off + counts[si]]
            parts.append(
                _ccitt_decode(raw, width, nrows, compression, t4opts)
            )
        band1 = np.concatenate(parts, axis=0)
        if int(t.get(262, [0])[0]) == 1:  # BlackIsZero: invert file bits
            band1 = (1 - band1).astype(np.uint8)
    elif compression == 6:
        # Old-style JPEG (TIFF 6.0 §22, deprecated since 1995). The form
        # real-world files carry — and the only one libtiff itself
        # writes — is a single complete JPEG interchange stream behind
        # JPEGInterchangeFormat/-Length (tags 513/514), which the
        # engine's own decoder handles. The fully tag-driven variant
        # (512 JPEGProc + 515-521 split tables with headerless strip
        # entropy data) remains GDAL-delegated via ValueError.
        if 513 not in t:
            raise ValueError(
                "old-style JPEG TIFF without JPEGInterchangeFormat "
                "(tag-driven variant) unsupported"
            )
        joff = int(t[513][0])
        jlen = int(t[514][0]) if 514 in t else len(data) - joff
        if joff + jlen > len(data) or data[joff : joff + 2] != b"\xff\xd8":
            raise ValueError("old-style JPEG stream out of range")
        from ..llm.jpeg import decode_jpeg

        jpeg_rgb = decode_jpeg(data[joff : joff + jlen])
        if jpeg_rgb.shape[0] < height or jpeg_rgb.shape[1] < width:
            raise ValueError("old-style JPEG stream smaller than image")
        jpeg_rgb = jpeg_rgb[:height, :width]
        band1 = jpeg_rgb[:, :, 0]
    elif compression == 7:
        tables = t.get(347)
        tbytes = bytes(tables) if tables else None
        if 322 in t or 324 in t:
            if not all(tag in t for tag in (322, 323, 324, 325)):
                raise ValueError("tiled TIFF missing tile tags")
            tw, th = int(t[322][0]), int(t[323][0])
            toffsets, tcounts = t[324], t[325]
            across = (width + tw - 1) // tw
            down = (height + th - 1) // th
            img = np.zeros((down * th, across * tw, 3), np.uint8)
            for ti, off in enumerate(toffsets):
                rgb = _jpeg_strip(data[off : off + tcounts[ti]], tbytes)
                r, c = (ti // across) * th, (ti % across) * tw
                img[r : r + th, c : c + tw] = rgb[:th, :tw]
            jpeg_rgb = img[:height, :width]
        else:
            offsets, counts = t[273], t[279]
            rows_per_strip = int(t.get(278, [height])[0])
            parts = []
            for si, off in enumerate(offsets):
                nrows = min(rows_per_strip, height - si * rows_per_strip)
                rgb = _jpeg_strip(data[off : off + counts[si]], tbytes)
                parts.append(rgb[:nrows, :width])
            jpeg_rgb = np.concatenate(parts, axis=0)
        band1 = jpeg_rgb[:, :, 0]
    elif 322 in t or 324 in t:
        # Tiled layout (tags 322/323/324/325): fixed-size tiles in
        # row-major order, right/bottom edge tiles padded to full size.
        if 322 not in t or 323 not in t:
            raise ValueError("tiled TIFF missing tile tags")
        tw = int(t[322][0])
        th = int(t[323][0])
        toffsets = t.get(324)
        tcounts = t.get(325)
        if toffsets is None:
            raise ValueError("tiled TIFF missing TileOffsets")
        if compression != 1 and tcounts is None:
            raise ValueError("compressed tiled TIFF missing TileByteCounts")
        across = (width + tw - 1) // tw
        down = (height + th - 1) // th
        tile_bytes = th * tw * spp * dt.itemsize
        shape = (down * th, across * tw, spp) if spp > 1 else (down * th, across * tw)
        img = np.zeros(shape, dtype=dt)
        for ti, off in enumerate(toffsets):
            if compression == 1:
                nbytes = tcounts[ti] if tcounts else tile_bytes
                raw = data[off : off + nbytes]
            else:
                raw = _decompress_strip(
                    data[off : off + tcounts[ti]], compression
                )
            if predictor == 3:
                tile = _undo_float_predictor(
                    raw, th, tw * spp, dt.itemsize, bo
                )
                tile = tile.reshape(th, tw, spp) if spp > 1 else tile
            else:
                tile = np.frombuffer(raw, dtype=dt, count=th * tw * spp)
                tile = (
                    tile.reshape(th, tw, spp)
                    if spp > 1
                    else tile.reshape(th, tw)
                )
                if predictor == 2:
                    tile = _undo_predictor(tile, bits, spp, dt)
            r, c = (ti // across) * th, (ti % across) * tw
            img[r : r + th, c : c + tw] = tile
        img = img[:height, :width]
    else:
        offsets = t.get(273)
        counts = t.get(279)
        if offsets is None:
            raise ValueError("TIFF missing StripOffsets")
        if compression != 1 and counts is None:
            raise ValueError("compressed TIFF missing StripByteCounts")
        rows_per_strip = int(t.get(278, [height])[0])
        row_bytes = width * spp * dt.itemsize

        parts = []
        for si, off in enumerate(offsets):
            nrows = min(rows_per_strip, height - si * rows_per_strip)
            if compression == 1:
                nbytes = counts[si] if counts else nrows * row_bytes
                raw = data[off : off + nbytes]
            else:
                raw = _decompress_strip(
                    data[off : off + counts[si]], compression
                )
            if predictor == 3:
                strip = _undo_float_predictor(
                    raw, nrows, width * spp, dt.itemsize, bo
                )
                strip = strip.reshape(nrows, width, spp) if spp > 1 else strip
            else:
                strip = np.frombuffer(raw, dtype=dt, count=nrows * width * spp)
                strip = (
                    strip.reshape(nrows, width, spp)
                    if spp > 1
                    else strip.reshape(nrows, width)
                )
                if predictor == 2:
                    strip = _undo_predictor(strip, bits, spp, dt)
            parts.append(strip)
        img = np.concatenate(parts, axis=0)
    if band1 is None:
        band1 = img[..., 0] if spp > 1 else img
        full = img
    elif compression in (6, 7):
        full = jpeg_rgb  # color survives for the image pipeline
    else:
        full = band1

    srid = 0
    geokeys = t.get(34735)
    if geokeys:
        # GeoKeyDirectory: header (4 shorts) then 4-short key entries;
        # value is inline when tag-location == 0
        for k in range(4, len(geokeys), 4):
            key_id, tag_loc, _cnt, val = geokeys[k : k + 4]
            if key_id in (2048, 3072) and tag_loc == 0:
                srid = int(val)
    meta = {
        "srid": srid,
        "pixel_scale": tuple(t[33550][:2]) if 33550 in t else None,
        "tiepoint": tuple(t[33922][:6]) if 33922 in t else None,
        "samples_per_pixel": spp,
        "photometric": int(t.get(262, [0])[0]),
        "compression": compression,
    }
    if _full:
        return full, meta
    return band1, meta


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture counterpart of _lzw_decode)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # the decoder's table is one entry BEHIND the encoder's when it
        # reads each code, so the encoder bumps one code later than the
        # decoder's len(table) == 2^width - 1 early-change point
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4093:  # table nearly full -> restart
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(EOI)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Literal-only PackBits (valid per spec; fixture use, not optimal)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


_COMPRESSION_CODES = {None: 1, "deflate": 8, "packbits": 32773, "lzw": 5}


def encode_tiff_gray(
    band: np.ndarray,
    srid: int = 0,
    pixel_scale: tuple[float, float] | None = None,
    tiepoint: tuple[float, ...] | None = None,
    compression: str | None = None,
    predictor: int = 1,
) -> bytes:
    """(H, W) array -> minimal little-endian GeoTIFF — the fixture-builder
    counterpart of decode_tiff (single strip, band 1; optional deflate/
    packbits/lzw compression and horizontal-differencing predictor)."""
    band = np.ascontiguousarray(band)
    h, w = band.shape
    kind = {"u": 1, "i": 2, "f": 3}[band.dtype.kind]
    bits = band.dtype.itemsize * 8
    comp_code = _COMPRESSION_CODES[compression]
    if predictor == 3:
        # TechNote 3 float prediction: big-endian byte planes per row,
        # then horizontal byte differencing
        if band.dtype.kind != "f":
            raise ValueError("predictor 3 requires float samples")
        isz = band.dtype.itemsize
        be = np.frombuffer(
            band.astype(np.dtype(f">f{isz}")).tobytes(), np.uint8
        ).reshape(h, w, isz)
        planes = np.transpose(be, (0, 2, 1)).reshape(h, w * isz)
        diffed = np.concatenate(
            [
                planes[:, :1].astype(np.int16),
                np.diff(planes.astype(np.int16), axis=1) & 0xFF,
            ],
            axis=1,
        ).astype(np.uint8)
        pixels = diffed.tobytes()
    else:
        stored = band
        if predictor == 2:
            stored = np.concatenate(
                [band[:, :1], np.diff(band, axis=1)], axis=1
            )  # wraps in-dtype
        pixels = stored.astype(stored.dtype.newbyteorder("<")).tobytes()
    if compression == "deflate":
        import zlib

        pixels = zlib.compress(pixels)
    elif compression == "packbits":
        pixels = _packbits_encode(pixels)
    elif compression == "lzw":
        pixels = _lzw_encode(pixels)

    entries = []  # (tag, type, count, value or payload-bytes placeholder)
    extra: list[bytes] = []

    def entry(tag, ftype, count, inline=None, payload=None):
        entries.append([tag, ftype, count, inline, payload])

    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, bits)
    entry(259, 3, 1, comp_code)
    entry(262, 3, 1, 1)       # BlackIsZero
    if predictor in (2, 3):
        entry(317, 3, 1, predictor)
    entry(273, 4, 1, None)    # strip offset (patched below)
    entry(277, 3, 1, 1)
    entry(278, 4, 1, h)
    entry(279, 4, 1, len(pixels))
    entry(339, 3, 1, kind)
    if pixel_scale:
        entry(33550, 12, 3, None, struct.pack("<3d", pixel_scale[0], pixel_scale[1], 0.0))
    if tiepoint:
        tp = tuple(tiepoint) + (0.0,) * (6 - len(tiepoint))
        entry(33922, 12, 6, None, struct.pack("<6d", *tp))
    if srid:
        key_id = 2048 if srid < 32767 and srid not in range(20000, 32761) else 3072
        # 1.1.0 revision header + one inline key
        geod = struct.pack("<8H", 1, 1, 0, 1, key_id, 0, 1, srid)
        entry(34735, 3, 8, None, geod)

    entries.sort(key=lambda e: e[0])
    ifd_off = 8
    ifd_size = 2 + len(entries) * 12 + 4
    heap_off = ifd_off + ifd_size
    # lay out out-of-line payloads
    for e in entries:
        if e[4] is not None:
            extra.append(e[4])
            e[3] = heap_off
            heap_off += len(e[4])
    strip_off = heap_off
    for e in entries:
        if e[0] == 273:
            e[3] = strip_off

    out = [struct.pack("<2sHI", b"II", 42, ifd_off), struct.pack("<H", len(entries))]
    for tag, ftype, count, val, payload in entries:
        if payload is not None or ftype == 4 or (ftype == 12):
            raw = struct.pack("<I", val)
        elif ftype == 3:
            raw = struct.pack("<HH", val, 0)
        else:
            raw = struct.pack("<I", val)
        out.append(struct.pack("<HHI", tag, ftype, count) + raw)
    out.append(struct.pack("<I", 0))  # next-IFD pointer
    out.extend(extra)
    out.append(pixels)
    return b"".join(out)


def encode_tiff_gray_tiled(
    band: np.ndarray,
    tile: tuple[int, int] = (16, 16),
    compression: str | None = None,
    predictor: int = 1,
    srid: int = 0,
) -> bytes:
    """(H, W) array -> minimal little-endian tiled GeoTIFF (tags
    322/323/324/325) — the fixture-builder counterpart of decode_tiff's
    tiled branch. Edge tiles are zero-padded to full tile size per spec."""
    band = np.ascontiguousarray(band)
    h, w = band.shape
    th, tw = tile[1], tile[0]
    kind = {"u": 1, "i": 2, "f": 3}[band.dtype.kind]
    bits = band.dtype.itemsize * 8
    comp_code = _COMPRESSION_CODES[compression]

    across = (w + tw - 1) // tw
    down = (h + th - 1) // th
    padded = np.zeros((down * th, across * tw), dtype=band.dtype)
    padded[:h, :w] = band
    tiles: list[bytes] = []
    for r in range(down):
        for c in range(across):
            blk = padded[r * th : (r + 1) * th, c * tw : (c + 1) * tw]
            if predictor == 2:
                blk = np.concatenate(
                    [blk[:, :1], np.diff(blk, axis=1)], axis=1
                )
            raw = blk.astype(blk.dtype.newbyteorder("<")).tobytes()
            if compression == "deflate":
                import zlib

                raw = zlib.compress(raw)
            elif compression == "packbits":
                raw = _packbits_encode(raw)
            elif compression == "lzw":
                raw = _lzw_encode(raw)
            tiles.append(raw)

    n = len(tiles)
    entries: list[list] = []

    def entry(tag, ftype, count, inline=None, payload=None):
        entries.append([tag, ftype, count, inline, payload])

    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, bits)
    entry(259, 3, 1, comp_code)
    entry(262, 3, 1, 1)
    entry(277, 3, 1, 1)
    if predictor == 2:
        entry(317, 3, 1, 2)
    entry(322, 4, 1, tw)
    entry(323, 4, 1, th)
    entry(324, 4, n, None, b"\x00" * (4 * n))  # offsets patched below
    entry(325, 4, n, None, struct.pack(f"<{n}I", *[len(b) for b in tiles]))
    entry(339, 3, 1, kind)
    if srid:
        geod = struct.pack("<8H", 1, 1, 0, 1, 2048, 0, 1, srid)
        entry(34735, 3, 8, None, geod)

    entries.sort(key=lambda e: e[0])
    ifd_off = 8
    heap_off = ifd_off + 2 + len(entries) * 12 + 4
    for e in entries:
        if e[4] is not None:
            e[3] = heap_off
            heap_off += len(e[4])
    # tile data begins after the payload heap; patch the offsets payload
    data_off = heap_off
    offs = []
    for b in tiles:
        offs.append(data_off)
        data_off += len(b)
    for e in entries:
        if e[0] == 324:
            e[4] = struct.pack(f"<{n}I", *offs)

    out = [struct.pack("<2sHI", b"II", 42, ifd_off), struct.pack("<H", len(entries))]
    for tag, ftype, count, val, payload in entries:
        if payload is not None or ftype == 4:
            raw = struct.pack("<I", val)
        elif ftype == 3:
            raw = struct.pack("<HH", val, 0)
        else:
            raw = struct.pack("<I", val)
        out.append(struct.pack("<HHI", tag, ftype, count) + raw)
    out.append(struct.pack("<I", 0))
    out.extend(e[4] for e in entries if e[4] is not None)
    out.extend(tiles)
    return b"".join(out)


def encode_bigtiff_gray(band: np.ndarray, srid: int = 0) -> bytes:
    """(H, W) array -> minimal little-endian single-strip BigTIFF (magic
    43, 20-byte IFD entries, LONG8 offsets) — fixture counterpart of
    parse_tiff's BigTIFF branch."""
    band = np.ascontiguousarray(band)
    h, w = band.shape
    kind = {"u": 1, "i": 2, "f": 3}[band.dtype.kind]
    bits = band.dtype.itemsize * 8
    pixels = band.astype(band.dtype.newbyteorder("<")).tobytes()

    entries: list[tuple[int, int, int, int | None, bytes | None]] = []

    def entry(tag, ftype, count, inline=None, payload=None):
        entries.append([tag, ftype, count, inline, payload])

    entry(256, 4, 1, w)
    entry(257, 4, 1, h)
    entry(258, 3, 1, bits)
    entry(259, 3, 1, 1)
    entry(262, 3, 1, 1)
    entry(273, 16, 1, None)  # strip offset, patched below
    entry(277, 3, 1, 1)
    entry(278, 4, 1, h)
    entry(279, 16, 1, len(pixels))
    entry(339, 3, 1, kind)
    if srid:
        geod = struct.pack("<8H", 1, 1, 0, 1, 2048, 0, 1, srid)
        entry(34735, 3, 8, None, geod)

    entries.sort(key=lambda e: e[0])
    ifd_off = 16
    heap_off = ifd_off + 8 + len(entries) * 20 + 8
    extra: list[bytes] = []
    for e in entries:
        if e[4] is not None:
            extra.append(e[4])
            e[3] = heap_off
            heap_off += len(e[4])
    for e in entries:
        if e[0] == 273:
            e[3] = heap_off  # pixel data starts after the payload heap

    out = [struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)]
    out.append(struct.pack("<Q", len(entries)))
    for tag, ftype, count, val, payload in entries:
        if ftype == 3 and payload is None:
            raw = struct.pack("<H6x", val)
        else:
            raw = struct.pack("<Q", val)
        out.append(struct.pack("<HHQ", tag, ftype, count) + raw)
    out.append(struct.pack("<Q", 0))
    out.extend(extra)
    out.append(pixels)
    return b"".join(out)


def decode_tiff_rgb(data: bytes) -> np.ndarray:
    """TIFF -> (H, W, 3) uint8 RGB for the image pipeline: RGB(A) keeps
    the first three samples, grayscale broadcasts, bilevel fax renders
    white=255 under either photometric; alpha is dropped. Non-8-bit
    samples raise ValueError (the raster path, not the image path,
    serves scientific dtypes)."""
    img, meta = decode_tiff(data, _full=True)
    if meta["compression"] in (6, 7):
        # JPEG streams decode to RGB already (YCbCr handled inside)
        return np.ascontiguousarray(img)
    if meta["compression"] in (2, 3, 4):
        bits = img.astype(np.uint8)
        if meta["photometric"] == 0:  # WhiteIsZero file bits
            bits = 1 - bits
        gray = (bits * 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    if img.dtype != np.uint8:
        raise ValueError(f"non-8-bit TIFF image ({img.dtype}) unsupported")
    if img.ndim == 3 and img.shape[2] >= 3:
        rgb = img[:, :, :3]
        if meta["photometric"] == 0:
            rgb = 255 - rgb
        return np.ascontiguousarray(rgb)
    gray = img if img.ndim == 2 else img[:, :, 0]
    if meta["photometric"] == 0:
        gray = 255 - gray
    return np.repeat(gray[:, :, None], 3, axis=2)
