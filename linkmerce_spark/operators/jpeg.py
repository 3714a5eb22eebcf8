"""Baseline JPEG codec — pure stdlib + numpy, no image library.

Retires the last image-codec stub in the media-decode tier
(`operators/multimodal.py`): where round 6-7a added real BMP/PNG/GIF
parsers and a JPEG *metadata* walk, this module implements the full
baseline-sequential JPEG pipeline in both directions:

- ``encode_jpeg``: level shift -> 8x8 FDCT -> flat-table quantization
  -> zigzag -> DC prediction + AC run-length -> per-image OPTIMIZED
  canonical Huffman tables (the spec K.2 two-pass shape libjpeg calls
  ``-optimize``; avoids hand-transcribing Annex K's 162-entry tables)
  -> bit packing with 0xFF byte stuffing. Interleaved 4:4:4 color
  (JFIF YCbCr) and single-component grayscale.
- ``decode_jpeg``: marker walk -> DQT/DHT/SOF0/SOS parse -> entropy
  decode (canonical Huffman from DHT BITS/HUFFVAL, byte unstuffing,
  DC predictors, EOB/ZRL, RSTn restart handling) -> dequantize ->
  dezigzag -> IDCT -> level shift -> YCbCr->RGB. Returns dimensions,
  channel count, and per-channel pixel means over the un-padded
  region, shaped like the other ``decode_*`` parsers.
- ``encode_jpeg_progressive`` / the SOF2 decode path (round 8):
  spectral selection + successive approximation per T.81 Annex G —
  DC first/refinement scans, per-component AC band scans with EOB
  run-length coding, AC refinement correction bits (the libjpeg
  encode/decode_mcu_AC_* semantics). The quantized coefficients are
  identical to the baseline encoder's, so progressive fixtures pass
  the same closed-form oracle and the two decode paths agree
  pixel-for-pixel.

Exactness contract (what makes the DuckDB twin possible)
---------------------------------------------------------
JPEG is lossy, so pixel stats are NOT generally closed-form — but for
a block-constant image every AC coefficient is analytically zero and
the whole chain collapses to integer-exact arithmetic. Two specifics
keep the Spark kernel bit-identical to a SQL twin on such fixtures:

- The encoder recomputes ``F(0,0)`` EXACTLY as ``block_sum * 0.125``
  (integer sum times a power of two) after the float FDCT, so the
  quantized DC is ``floor(block_sum/8/q + 0.5)`` with no float-noise
  at the rounding boundary (odd DC values land exactly on ``x.5``,
  where a 1-ulp FDCT residue would otherwise flip the floor).
- Every rounding in the chain is ``floor(x + 0.5)`` (never banker's
  or half-away ROUND), the one form Python, numpy, and SQL evaluate
  identically on identical float64 inputs.

Scale notes
-----------
Codecs are the imperative tier: this runs inside the same Arrow
``mapInPandas`` kernel as the other parsers (one Python pass per
media row — the documented slow path the plumbing isolates). The
entropy loop is per-symbol Python, appropriate for the fixture-sized
images the tests decode; a production executor would table-drive the
Huffman lookups, which changes none of the byte-level contracts
tested here.

Reference parity: the reference repo has no media pipeline at all —
this extends the engine along the training-data-pipeline axis the
build brief names (decode / feature-extract over binary columns).
"""

from __future__ import annotations

import math
import struct

import numpy as np

__all__ = [
    "apply_exif_orientation",
    "decode_jpeg",
    "encode_jpeg",
    "encode_jpeg_progressive",
    "exif_app1",
    "parse_exif_orientation",
]

# Zigzag scan order, GENERATED from the diagonal walk rather than
# transcribed (a one-entry typo in the classic 64-literal table would
# corrupt every block): even diagonals run bottom-left -> top-right,
# odd ones top-right -> bottom-left, exactly the T.81 figure 5 walk.


def _zigzag_order() -> list:
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        rows = list(rng) if s % 2 else list(reversed(list(rng)))
        out.extend(r * 8 + (s - r) for r in rows)
    return out


ZIGZAG = _zigzag_order()

# Orthonormal DCT-II basis: F = C @ f @ C.T, f = C.T @ F @ C.
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = math.cos((2 * _x + 1) * _u * math.pi / 16) * (
            math.sqrt(1 / 8) if _u == 0 else 0.5
        )


def _floor_half(x: np.ndarray) -> np.ndarray:
    return np.floor(x + 0.5)


# --- canonical Huffman (spec K.2 two-pass shape) --------------------------


def _huffman_sizes(freq_in: dict) -> dict:
    """Code sizes via the T.81 K.2 merge algorithm: symbol 256 is the
    reserved point (freq 1) that soaks up the deepest code so no real
    symbol is all-ones; ties pick the largest symbol, mirroring
    libjpeg's scan direction (determinism, and it drives 256 deep)."""
    freq = dict(freq_in)
    freq[256] = 1
    codesize = {s: 0 for s in freq}
    others = {s: -1 for s in freq}
    while True:
        live = [s for s in freq if freq[s] > 0]
        if len(live) < 2:
            break
        live.sort(key=lambda s: (freq[s], -s))
        c1, c2 = live[0], live[1]
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] != -1:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] != -1:
            c2 = others[c2]
            codesize[c2] += 1
    return codesize


def _build_table(freqs: dict) -> tuple:
    """freqs: symbol -> count. Returns (bits, huffval, codes) where
    bits[i] = #codes of length i+1 (16 entries), huffval = symbols in
    canonical order, codes = {symbol: (code, length)}."""
    if not freqs:
        # A table must still be legal for the DHT segment: one 1-bit
        # code for a symbol that never occurs in the scan.
        freqs = {0: 1}
    codesize = _huffman_sizes(freqs)
    max_len = max(codesize.values())
    counts = [0] * (max(16, max_len) + 1)
    for s, size in codesize.items():
        counts[size] += 1
    # Adjust_BITS: fold lengths beyond 16 back (only reachable with
    # pathological frequency ladders; cheap insurance).
    i = max_len
    while i > 16:
        while counts[i] > 0:
            j = i - 2
            while counts[j] == 0:
                j -= 1
            counts[i] -= 2
            counts[i - 1] += 1
            counts[j + 1] += 2
            counts[j] -= 1
        i -= 1
        # lengths shifted; symbols are re-ranked by size below anyway
    # Drop the reserved symbol: it sits at the deepest populated level.
    deepest = 16
    while counts[deepest] == 0:
        deepest -= 1
    counts[deepest] -= 1
    # Rank real symbols shallow-first; the K.2 adjust only ever SHRINKS
    # lengths, so re-fitting symbols to the adjusted histogram in
    # (size, symbol) order preserves the canonical shape.
    ranked = sorted((s for s in codesize if s != 256), key=lambda s: (codesize[s], s))
    bits = [0] * 16
    huffval = []
    lengths = []
    for ln in range(1, 17):
        take = counts[ln] if ln <= deepest else 0
        for _ in range(take):
            sym = ranked[len(huffval)]
            huffval.append(sym)
            lengths.append(ln)
            bits[ln - 1] += 1
    codes = {}
    code = 0
    prev_len = lengths[0] if lengths else 1
    for sym, ln in zip(huffval, lengths):
        code <<= ln - prev_len
        prev_len = ln
        codes[sym] = (code, ln)
        code += 1
    return bits, huffval, codes


def _codes_from_dht(bits: list, huffval: list) -> dict:
    """(code, length) -> symbol map from a DHT segment's BITS/HUFFVAL."""
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[(code, ln)] = huffval[k]
            k += 1
            code += 1
        code <<= 1
    return codes


# --- bit I/O with 0xFF stuffing -------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError("marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    return abs(v).bit_length()


# --- encoder ---------------------------------------------------------------


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """JFIF color transform, floor(x+0.5) rounding, clamp to 0..255.
    px: (n, 3) float64 RGB -> (n, 3) int YCbCr."""
    r, g, b = px[:, 0], px[:, 1], px[:, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128 + 0.5 * r - 0.418688 * g - 0.081312 * b
    out = np.stack([y, cb, cr], axis=1)
    return np.clip(_floor_half(out), 0, 255).astype(np.int64)


# (single-factor block split subsumed by _mcu_blocks with hs=vs=1)


def _quantize_block(block: np.ndarray, q: int) -> list:
    """FDCT + flat-table quantization -> 64 zigzag-ordered ints. The
    DC term is recomputed exactly from the integer block sum (see
    module docstring) so constant blocks quantize with zero float
    noise."""
    shifted = block.astype(np.float64) - 128.0
    coeffs = _C @ shifted @ _C.T
    coeffs[0, 0] = float(int(shifted.sum())) * 0.125
    quant = _floor_half(coeffs / q).astype(np.int64)
    flat = quant.reshape(64)
    return [int(flat[z]) for z in ZIGZAG]


def _rle_ac(zz: list) -> list:
    """AC coefficients -> (run, size, value) symbols with ZRL/EOB."""
    out = []
    run = 0
    last_nz = 0
    for i in range(1, 64):
        if zz[i]:
            last_nz = i
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            out.append((15, 0, 0))  # ZRL
            run -= 16
        out.append((run, _category(zz[i]), zz[i]))
        run = 0
    if last_nz < 63:
        out.append((0, 0, 0))  # EOB
    return out


def _mcu_blocks(plane: np.ndarray, hs: int, vs: int, mw: int, mh: int) -> list:
    """8x8 blocks of ``plane`` in MCU-interleaved raster order: for
    each MCU (row-major), the component's ``vs x hs`` blocks raster
    within it. Plane edge-padded to the full MCU grid."""
    H, W = mh * 8 * vs, mw * 8 * hs
    padded = np.pad(
        plane, ((0, H - plane.shape[0]), (0, W - plane.shape[1])), mode="edge"
    )
    out = []
    for my in range(mh):
        for mx in range(mw):
            for by in range(vs):
                for bx in range(hs):
                    r0, c0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    out.append(padded[r0 : r0 + 8, c0 : c0 + 8])
    return out


def _subsample2(plane: np.ndarray) -> np.ndarray:
    """2x2 chroma subsample by integer floor-mean (edge-padded to even
    dims). Floor keeps constant planes exactly constant — the property
    the closed-form fixtures rely on."""
    h, w = plane.shape
    p = np.pad(plane, ((0, h % 2), (0, w % 2)), mode="edge")
    return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) // 4


def _subsample_hv(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """``fh x fv`` chroma subsample by integer floor-mean (edge-padded
    to multiples) — the generalization of :func:`_subsample2` that the
    4:1:1 encode path uses. Floor-mean keeps constant planes constant."""
    h, w = plane.shape
    p = np.pad(plane, ((0, -h % fv), (0, -w % fh)), mode="edge").astype(np.int64)
    return (
        p.reshape(p.shape[0] // fv, fv, p.shape[1] // fh, fh).sum(axis=(1, 3))
        // (fh * fv)
    )


def encode_jpeg(
    pixels: list,
    width: int,
    height: int,
    channels: int = 3,
    q: int = 16,
    subsampling: str = "444",
    orientation: int | None = None,
) -> bytes:
    """Encode a REAL baseline-sequential JPEG.

    ``pixels``: row-major samples — RGB triples flattened when
    ``channels == 3``, single luma samples when ``channels == 1``.
    ``q``: the flat quantization value written to DQT (1 = highest
    fidelity). ``subsampling``: ``'444'`` (one block per component per
    MCU), ``'420'`` (the real-world default: 16x16 MCUs of four luma
    blocks plus 2x2-floor-mean-subsampled chroma), or ``'411'`` (the
    DV/camera layout: 32x8 MCUs of four horizontal luma blocks plus
    4x1-floor-mean chroma — the exotic-factor container the decoder's
    generalized sampling path is hash-gated against). Two-pass: symbol
    statistics first, then optimized canonical Huffman tables, then
    the entropy scan."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if subsampling not in ("444", "420", "411"):
        raise ValueError("subsampling must be '444', '420' or '411'")
    if subsampling in ("420", "411") and channels != 3:
        raise ValueError("subsampled chroma requires 3 channels")
    px = np.asarray(pixels, dtype=np.float64).reshape(height, width, channels)
    if channels == 3:
        ycc = _rgb_to_ycbcr(px.reshape(-1, 3)).reshape(height, width, 3)
        planes = [ycc[:, :, c] for c in range(3)]
    else:
        planes = [np.clip(_floor_half(px[:, :, 0]), 0, 255).astype(np.int64)]

    # sampling factors (h, v) per component and the MCU grid
    if subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
        planes = [planes[0], _subsample2(planes[1]), _subsample2(planes[2])]
        mw, mh = -(-width // 16), -(-height // 16)
    elif subsampling == "411":
        samp = [(4, 1), (1, 1), (1, 1)]
        planes = [
            planes[0],
            _subsample_hv(planes[1], 4, 1),
            _subsample_hv(planes[2], 4, 1),
        ]
        mw, mh = -(-width // 32), -(-height // 8)
    else:
        samp = [(1, 1)] * channels
        mw, mh = -(-width // 8), -(-height // 8)
    per_comp_blocks = [
        [
            _quantize_block(b, q)
            for b in _mcu_blocks(p, samp[c][0], samp[c][1], mw, mh)
        ]
        for c, p in enumerate(planes)
    ]
    n_mcu = mw * mh

    dc_freq: dict = {0: {}, 1: {}}
    ac_freq: dict = {0: {}, 1: {}}
    dc_pred = [0] * channels
    sym_stream = []  # (tclass_id, kind, payload) in emission order
    for m in range(n_mcu):
        for c in range(channels):
            tid = 0 if c == 0 else 1
            bpm = samp[c][0] * samp[c][1]  # blocks per MCU
            for zz in per_comp_blocks[c][m * bpm : (m + 1) * bpm]:
                _emit_block(
                    zz, c, tid, dc_pred, dc_freq, ac_freq, sym_stream
                )
    return _assemble_jpeg(
        sym_stream, dc_freq, ac_freq, width, height, channels, q, samp,
        orientation,
    )


def _emit_block(zz, c, tid, dc_pred, dc_freq, ac_freq, sym_stream) -> None:
    diff = zz[0] - dc_pred[c]
    dc_pred[c] = zz[0]
    size = _category(diff)
    dc_freq[tid][size] = dc_freq[tid].get(size, 0) + 1
    sym_stream.append((tid, "dc", (size, diff)))
    for run, s, v in _rle_ac(zz):
        sym = (run << 4) | s
        ac_freq[tid][sym] = ac_freq[tid].get(sym, 0) + 1
        sym_stream.append((tid, "ac", (sym, s, v)))


def _assemble_jpeg(
    sym_stream, dc_freq, ac_freq, width, height, channels, q, samp,
    orientation=None,
) -> bytes:
    tables = {}
    used_tids = sorted({0} | ({1} if channels == 3 else set()))
    for tid in used_tids:
        tables[("dc", tid)] = _build_table(dc_freq[tid])
        tables[("ac", tid)] = _build_table(ac_freq[tid])

    w = _BitWriter()
    for tid, kind, payload in sym_stream:
        codes = tables[(kind, tid)][2]
        if kind == "dc":
            size, diff = payload
            code, ln = codes[size]
            w.write(code, ln)
            if size:
                w.write(diff if diff > 0 else diff + (1 << size) - 1, size)
        else:
            sym, s, v = payload
            code, ln = codes[sym]
            w.write(code, ln)
            if s:
                w.write(v if v > 0 else v + (1 << s) - 1, s)
    scan = w.flush()

    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    if orientation is not None:
        out += exif_app1(orientation)
    for tid in used_tids:
        dqt = bytes([tid]) + bytes([q] * 64)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for c in range(channels):
        hs, vs = samp[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0 if c == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for (kind, tid) in sorted(tables):
        bits, huffval, _ = tables[(kind, tid)]
        tc = 0 if kind == "dc" else 1
        dht = bytes([(tc << 4) | tid]) + bytes(bits) + bytes(huffval)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    sos = bytearray([channels])
    for c in range(channels):
        tid = 0 if c == 0 else 1
        sos += bytes([c + 1, (tid << 4) | tid])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


# --- EXIF orientation (APP1) ------------------------------------------------

EXIF_ORIENTATION_TAG = 0x0112


def exif_app1(orientation: int) -> bytes:
    """A minimal REAL APP1/EXIF segment: 'Exif\\0\\0' + little-endian
    TIFF header + one IFD holding the Orientation tag."""
    if not 1 <= orientation <= 8:
        raise ValueError("EXIF orientation must be 1..8")
    tiff = struct.pack("<2sHI", b"II", 42, 8)  # byte order, magic, IFD offset
    ifd = struct.pack("<H", 1)  # one entry
    ifd += struct.pack("<HHIHH", EXIF_ORIENTATION_TAG, 3, 1, orientation, 0)
    ifd += struct.pack("<I", 0)  # no next IFD
    payload = b"Exif\x00\x00" + tiff + ifd
    return b"\xff\xe1" + struct.pack(">H", 2 + len(payload)) + payload


def parse_exif_orientation(seg: bytes) -> int | None:
    """Orientation from an APP1 payload via a real TIFF IFD walk —
    both byte orders, offset-based IFD location, SHORT value in the
    inline slot. Returns None when absent/malformed (EXIF is advisory
    metadata; a broken blob must not fail the decode)."""
    if not seg.startswith(b"Exif\x00\x00"):
        return None
    t = seg[6:]
    if len(t) < 8 or t[:2] not in (b"II", b"MM"):
        return None
    end = "<" if t[:2] == b"II" else ">"
    try:
        (magic,) = struct.unpack(f"{end}H", t[2:4])
        if magic != 42:
            return None
        (ifd_off,) = struct.unpack(f"{end}I", t[4:8])
        (n,) = struct.unpack(f"{end}H", t[ifd_off : ifd_off + 2])
        for i in range(n):
            e = t[ifd_off + 2 + 12 * i : ifd_off + 14 + 12 * i]
            tag, typ, cnt = struct.unpack(f"{end}HHI", e[:8])
            if tag == EXIF_ORIENTATION_TAG and typ == 3 and cnt == 1:
                (val,) = struct.unpack(f"{end}H", e[8:10])
                return val if 1 <= val <= 8 else None
    except (struct.error, IndexError):
        return None
    return None


def apply_exif_orientation(arr: np.ndarray, orientation: int) -> np.ndarray:
    """Transform an (h, w, c) pixel array to its upright form — the
    auto-rotate every image ingest performs (PIL's exif_transpose
    vocabulary: flips, 90/180/270 rotations, transpose/transverse)."""
    if orientation == 2:
        return arr[:, ::-1]
    if orientation == 3:
        return arr[::-1, ::-1]
    if orientation == 4:
        return arr[::-1]
    if orientation == 5:
        return arr.transpose(1, 0, 2)
    if orientation == 6:
        return np.rot90(arr, k=3)
    if orientation == 7:
        return arr.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return np.rot90(arr, k=1)
    return arr


# --- decoder ---------------------------------------------------------------


def _check_sampling_divisible(comps: list) -> None:
    """Every T.81 factor 1-4 decodes, PROVIDED each component's factor
    divides the frame maximum on its axis — integer pixel replication
    is then the exact upsample. That covers 4:4:4, 4:2:0, 4:2:2,
    4:4:0, 4:1:1, 4:1:0, 3:1:1 and every other layout observed in
    real corpora; a NON-divisible pair (e.g. max 3 against factor 2)
    requires fractional resampling, has no standard interpolation to
    be exact against, and is not produced by any mainstream encoder —
    that residue alone stays on the library tier."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        if hmax % c["h"] or vmax % c["v"]:
            raise ValueError(
                f"non-divisible sampling {c['h']}x{c['v']} vs frame max "
                f"{hmax}x{vmax} needs the library tier"
            )


def _read_table(marker: int, seg: bytes, qtables: dict, htables: dict) -> None:
    """Read a DQT (8- or 16-bit entries) or a DHT segment into
    ``qtables`` / ``htables``."""
    p = 0
    while p < len(seg):
        if marker == 0xDB:
            pq, tq = seg[p] >> 4, seg[p] & 0x0F
            width_ = 2 if pq else 1
            vals = seg[p + 1 : p + 1 + 64 * width_]
            qtables[tq] = list(struct.unpack(f">{64}H", vals)) if pq else list(vals)
            p += 1 + 64 * width_
        else:
            tc, th = seg[p] >> 4, seg[p] & 0x0F
            bits = list(seg[p + 1 : p + 17])
            n = sum(bits)
            htables[(tc, th)] = _codes_from_dht(bits, list(seg[p + 17 : p + 17 + n]))
            p += 17 + n


def _read_frame(seg: bytes) -> tuple[int, int, int, list]:
    """An SOF segment's ``(width, height, n_components, components)``:
    8-bit precision only, T.81 sampling factors 1..4 that divide the
    frame maximum."""
    precision, h, w, nc = struct.unpack(">BHHB", seg[:6])
    if precision != 8:
        raise ValueError(f"unsupported precision {precision}")
    comps = []
    for c in range(nc):
        cid, sampling, tq = seg[6 + 3 * c : 9 + 3 * c]
        hs, vs = sampling >> 4, sampling & 0x0F
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError(f"sampling factors {hs}x{vs} out of T.81 range")
        comps.append({"id": cid, "tq": tq, "h": hs, "v": vs})
    _check_sampling_divisible(comps)
    return w, h, nc, comps


def _decode_huffman(reader: _BitReader, codes: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = codes.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def decode_jpeg(content: bytes, want_pixels: bool = False) -> dict:
    """Full baseline-sequential decode: Huffman entropy decode,
    dequantize, IDCT, color convert; per-channel means over the real
    (un-padded) pixel region. Supports 8-bit precision, sampling
    factors 1 and 2 per axis — 4:4:4, the real-world-default 4:2:0,
    4:2:2/4:4:0, grayscale — with subsampled components replicated
    back to full resolution; restart markers handled. Progressive
    (SOF2) dispatches to ``_decode_progressive`` (full spectral-
    selection + successive-approximation decode); exotic sampling and
    the remaining SOF variants raise ValueError — they degrade to the
    metadata walk in ``extract_media_stats``. ``want_pixels`` adds
    ``pixels``: flat top-row-major [r,g,b,...] ints (gray
    replicated)."""
    if len(content) < 4 or content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    pos = 2
    qtables: dict = {}
    htables: dict = {}
    sof = None
    comps: list = []
    restart_interval = 0
    exif_orientation = None
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = content[pos + 1]
        if marker == 0xD9:
            raise ValueError("no scan data before EOI")
        (seglen,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        seg = content[pos + 4 : pos + 2 + seglen]
        if marker == 0xC2:
            return _decode_progressive(content, want_pixels)
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF 0x{marker:02x} needs the library tier")
        if marker in (0xDB, 0xC4):
            _read_table(marker, seg, qtables, htables)
        elif marker == 0xC0:
            w, h, nc, comps = _read_frame(seg)
            sof = (w, h, nc)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xE1:
            exif_orientation = parse_exif_orientation(seg) or exif_orientation
        elif marker == 0xDA:
            ns = seg[0]
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                for comp in comps:
                    if comp["id"] == cid:
                        comp["td"], comp["ta"] = tabs >> 4, tabs & 0x0F
            pos = pos + 2 + seglen
            break
        pos += 2 + seglen
    else:
        raise ValueError("no SOS marker")
    if sof is None:
        raise ValueError("no SOF before SOS")
    w, h, nc = sof

    reader = _BitReader(content[pos:])
    hmax = max(comp["h"] for comp in comps)
    vmax = max(comp["v"] for comp in comps)
    mw, mh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    n_mcu = mw * mh
    planes = [
        np.zeros((mh * 8 * comp["v"], mw * 8 * comp["h"])) for comp in comps
    ]
    dc_pred = [0] * nc
    inv_zigzag = ZIGZAG  # zz position -> raster index
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            reader.align()
            if (
                reader.pos + 2 <= len(reader.data)
                and reader.data[reader.pos] == 0xFF
                and 0xD0 <= reader.data[reader.pos + 1] <= 0xD7
            ):
                reader.pos += 2
            dc_pred = [0] * nc
        my, mx = divmod(m, mw)
        for c in range(nc):
            comp = comps[c]
            dc_codes = htables[(0, comp["td"])]
            ac_codes = htables[(1, comp["ta"])]
            qt = qtables[comp["tq"]]
            for bidx in range(comp["h"] * comp["v"]):
                bby, bbx = divmod(bidx, comp["h"])
                zz = [0] * 64
                size = _decode_huffman(reader, dc_codes)
                diff = _extend(reader.receive(size), size)
                dc_pred[c] += diff
                zz[0] = dc_pred[c]
                k = 1
                while k < 64:
                    sym = _decode_huffman(reader, ac_codes)
                    run, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if run == 15:
                            k += 16  # ZRL
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    zz[k] = _extend(reader.receive(s), s)
                    k += 1
                coeffs = np.zeros(64)
                for zpos in range(64):
                    coeffs[inv_zigzag[zpos]] = zz[zpos] * qt[zpos]
                block = _C.T @ coeffs.reshape(8, 8) @ _C
                r0 = (my * comp["v"] + bby) * 8
                c0 = (mx * comp["h"] + bbx) * 8
                planes[c][r0 : r0 + 8, c0 : c0 + 8] = block

    return _finish_decode(planes, comps, w, h, nc, exif_orientation, want_pixels)


def _finish_decode(
    planes: list, comps: list, w: int, h: int, nc: int,
    exif_orientation, want_pixels: bool,
) -> dict:
    """Shared decode tail (baseline + progressive): upsample, level
    shift, EXIF auto-rotate, color convert, means/pixels."""
    hmax = max(comp["h"] for comp in comps)
    vmax = max(comp["v"] for comp in comps)
    # replicate subsampled components back to full resolution, crop
    samples = []
    for c in range(nc):
        comp = comps[c]
        p = planes[c]
        if comp["v"] < vmax:
            p = np.repeat(p, vmax // comp["v"], axis=0)
        if comp["h"] < hmax:
            p = np.repeat(p, hmax // comp["h"], axis=1)
        samples.append(
            np.clip(_floor_half(p[:h, :w] + 128.0), 0, 255).astype(np.int64)
        )
    # EXIF auto-rotate: transform to the upright image (the ingest
    # default); dimensions report the upright shape for 90-degree
    # orientations. Means are permutation-invariant; pixels are not.
    if exif_orientation and exif_orientation != 1:
        samples = [
            apply_exif_orientation(s[:, :, None], exif_orientation)[:, :, 0]
            for s in samples
        ]
        h, w = samples[0].shape
    if nc == 3:
        y, cb, cr = (s.astype(np.float64) for s in samples)
        r = np.clip(_floor_half(y + 1.402 * (cr - 128)), 0, 255)
        g = np.clip(
            _floor_half(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), 0, 255
        )
        b = np.clip(_floor_half(y + 1.772 * (cb - 128)), 0, 255)
        mean_r, mean_g, mean_b = (
            float(x.sum()) / (w * h) for x in (r, g, b)
        )
    else:
        r = g = b = samples[0].astype(np.float64)
        gray = float(samples[0].sum()) / (w * h)
        mean_r = mean_g = mean_b = gray
    out = {
        "format": "jpeg",
        "width": w,
        "height": h,
        "channels": nc,
        "mean_b": mean_b,
        "mean_g": mean_g,
        "mean_r": mean_r,
    }
    if want_pixels:
        out["pixels"] = (
            np.stack([r, g, b], axis=2).astype(np.int64).reshape(-1).tolist()
        )
    return out


# --- progressive (SOF2) ------------------------------------------------------
#
# Spectral selection + successive approximation per T.81 Annex G: DC
# first/refinement scans (interleaved), per-component AC band scans
# with EOB run-length coding, AC refinement scans with correction
# bits. The entropy order differs from baseline but the decoded
# coefficients are IDENTICAL — so a progressive re-encode of a fixture
# image passes the same closed-form oracle hash as its baseline twin,
# which is exactly how the catalog gates this path.


def _scan_end(content: bytes, start: int) -> int:
    """Index just past the entropy-coded data that begins at ``start``:
    the position of the next real marker (0xFF followed by anything
    but 0x00 stuffing or an RSTn)."""
    p = start
    n = len(content)
    while p + 1 < n:
        if content[p] == 0xFF and content[p + 1] != 0x00 and not (
            0xD0 <= content[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return n


def _decode_progressive(content: bytes, want_pixels: bool = False) -> dict:
    """Decode a progressive (SOF2) JPEG: accumulate coefficients over
    every scan, then dequantize + IDCT once. Restart intervals are not
    supported in this tier (the in-repo progressive encoder never
    emits them)."""
    pos = 2
    qtables: dict = {}
    htables: dict = {}
    sof = None
    comps: list = []
    exif_orientation = None
    coef = None  # per component: (blocks_v, blocks_h, 64) zigzag ints
    w = h = nc = 0
    hmax = vmax = mw = mh = 0
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = content[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        seg = content[pos + 4 : pos + 2 + seglen]
        if marker in (0xDB, 0xC4):
            _read_table(marker, seg, qtables, htables)
        elif marker == 0xC2:
            w, h, nc, comps = _read_frame(seg)
            sof = (w, h, nc)
            hmax = max(c_["h"] for c_ in comps)
            vmax = max(c_["v"] for c_ in comps)
            mw, mh = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            coef = [
                np.zeros((mh * c_["v"], mw * c_["h"], 64), dtype=np.int64)
                for c_ in comps
            ]
            # non-interleaved (single-component) scans cover the
            # component's OWN block grid, not the MCU-padded one
            for c_ in comps:
                cw = -(-w * c_["h"] // hmax)
                ch = -(-h * c_["v"] // vmax)
                c_["bw"], c_["bh"] = -(-cw // 8), -(-ch // 8)
        elif marker == 0xDD:
            (ri,) = struct.unpack(">H", seg[:2])
            if ri:
                raise ValueError("restart intervals unsupported in progressive tier")
        elif marker == 0xE1:
            exif_orientation = parse_exif_orientation(seg) or exif_orientation
        elif marker == 0xC0:
            raise ValueError("baseline SOF in progressive decoder")
        elif marker == 0xDA:
            if sof is None:
                raise ValueError("SOS before SOF")
            data_start = pos + 2 + seglen
            data_end = _scan_end(content, data_start)
            _decode_progressive_scan(
                seg, content[data_start:data_end], comps, htables, coef, mw, mh
            )
            pos = data_end
            continue
        pos += 2 + seglen
    if sof is None or coef is None:
        raise ValueError("no SOF2 frame decoded")

    inv_zigzag = ZIGZAG
    planes = []
    for c in range(nc):
        comp = comps[c]
        qt = np.asarray(qtables[comp["tq"]], dtype=np.float64)
        bv, bh = coef[c].shape[0], coef[c].shape[1]
        plane = np.zeros((bv * 8, bh * 8))
        deq = np.zeros(64)
        for by in range(bv):
            for bx in range(bh):
                zz = coef[c][by, bx]
                for zpos in range(64):
                    deq[inv_zigzag[zpos]] = zz[zpos] * qt[zpos]
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _C.T @ deq.reshape(8, 8) @ _C
                )
        planes.append(plane)
    return _finish_decode(planes, comps, w, h, nc, exif_orientation, want_pixels)


def _decode_progressive_scan(
    seg: bytes, data: bytes, comps: list, htables: dict, coef: list,
    mw: int, mh: int,
) -> None:
    """One SOS of a progressive frame (T.81 G.2): dispatch on
    (Ss, Ah) to DC/AC first/refinement block decoders."""
    ns = seg[0]
    scomps = []
    for i in range(ns):
        cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
        for ci, comp in enumerate(comps):
            if comp["id"] == cid:
                scomps.append((ci, tabs >> 4, tabs & 0x0F))
                break
        else:
            raise ValueError(f"scan references unknown component {cid}")
    ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    reader = _BitReader(data)

    if ss == 0:  # DC scan (must have Se == 0)
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        preds = [0] * len(scomps)
        if ns > 1 or (len(comps) > 1 and ns == len(comps)):
            # interleaved over the MCU grid
            for m in range(mw * mh):
                my, mx = divmod(m, mw)
                for si, (ci, td, _ta) in enumerate(scomps):
                    comp = comps[ci]
                    for bidx in range(comp["h"] * comp["v"]):
                        bby, bbx = divmod(bidx, comp["h"])
                        by, bx = my * comp["v"] + bby, mx * comp["h"] + bbx
                        _dc_block(
                            reader, htables, td, coef[ci][by, bx], preds, si,
                            ah, al,
                        )
        else:
            ci, td, _ta = scomps[0]
            comp = comps[ci]
            for by in range(comp["bh"]):
                for bx in range(comp["bw"]):
                    _dc_block(
                        reader, htables, td, coef[ci][by, bx], preds, 0, ah, al
                    )
        return

    # AC scans are single-component, non-interleaved (T.81 G.1.1.1.1)
    if ns != 1:
        raise ValueError("AC progressive scan must be non-interleaved")
    ci, _td, ta = scomps[0]
    comp = comps[ci]
    ac_codes = htables[(1, ta)]
    eobrun = 0
    for by in range(comp["bh"]):
        for bx in range(comp["bw"]):
            if ah == 0:
                eobrun = _ac_first_block(
                    reader, ac_codes, coef[ci][by, bx], ss, se, al, eobrun
                )
            else:
                eobrun = _ac_refine_block(
                    reader, ac_codes, coef[ci][by, bx], ss, se, al, eobrun
                )


def _dc_block(reader, htables, td, zz, preds, si, ah, al) -> None:
    if ah == 0:  # first DC scan: category + extend bits, point transform
        size = _decode_huffman(reader, htables[(0, td)])
        diff = _extend(reader.receive(size), size)
        preds[si] += diff
        zz[0] = preds[si] << al
    else:  # refinement: one raw bit appends magnitude bit 2^Al
        if reader.read_bit():
            zz[0] |= 1 << al


def _ac_first_block(reader, ac_codes, zz, ss, se, al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _decode_huffman(reader, ac_codes)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.receive(r)
                return eobrun - 1  # current block is part of the run
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = _extend(reader.receive(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, ac_codes, zz, ss, se, al, eobrun) -> int:
    """T.81 G.2 / libjpeg decode_mcu_AC_refine: newly-significant
    coefficients arrive as run-of-zero-HISTORY symbols; every nonzero
    coefficient passed over contributes one correction bit."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _decode_huffman(reader, ac_codes)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("refinement scan with size > 1")
                newval = p1 if reader.read_bit() else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break  # fall through to the EOB correction sweep
                # r == 15: ZRL — skip 16 zero-history positions
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit():
                        if (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.read_bit():
                    if (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


# --- progressive encoder -----------------------------------------------------


def _flush_eobrun(ops: list, state: dict) -> None:
    """Emit the pending EOB run symbol (EOBn: n = floor(log2(run)),
    extra bits = the low n bits) plus any correction bits buffered
    against it (refinement scans)."""
    run = state["eobrun"]
    if run > 0:
        nbits = run.bit_length() - 1
        ops.append(("sym", nbits << 4))
        if nbits:
            ops.append(("bits", run & ((1 << nbits) - 1), nbits))
        state["eobrun"] = 0
    for bit in state["be"]:
        ops.append(("rawbit", bit))
    state["be"] = []


def _ops_dc_first(grids, samp, channels, mw, mh, al) -> list:
    ops: list = []
    preds = [0] * channels
    for m in range(mw * mh):
        my, mx = divmod(m, mw)
        for c in range(channels):
            hs, vs = samp[c]
            for bidx in range(hs * vs):
                bby, bbx = divmod(bidx, hs)
                zz = grids[c][my * vs + bby][mx * hs + bbx]
                val = zz[0] >> al  # arithmetic shift, same as the decoder's <<
                diff = val - preds[c]
                preds[c] = val
                size = _category(diff)
                ops.append(("sym", size))
                if size:
                    ops.append(
                        ("bits", diff if diff > 0 else diff + (1 << size) - 1, size)
                    )
    return ops


def _ops_dc_refine(grids, samp, channels, mw, mh, al) -> list:
    ops: list = []
    for m in range(mw * mh):
        my, mx = divmod(m, mw)
        for c in range(channels):
            hs, vs = samp[c]
            for bidx in range(hs * vs):
                bby, bbx = divmod(bidx, hs)
                zz = grids[c][my * vs + bby][mx * hs + bbx]
                ops.append(("rawbit", (zz[0] >> al) & 1))
    return ops


def _ops_ac_first(grid, bh, bw, ss, se, al) -> list:
    """libjpeg encode_mcu_AC_first: run/size symbols over the band at
    this approximation, EOB runs accumulated across blocks."""
    ops: list = []
    state = {"eobrun": 0, "be": []}
    for by in range(bh):
        for bx in range(bw):
            zz = grid[by][bx]
            r = 0
            for k in range(ss, se + 1):
                t = zz[k]
                m = (-t if t < 0 else t) >> al
                if m == 0:
                    r += 1
                    continue
                _flush_eobrun(ops, state)
                while r > 15:
                    ops.append(("sym", 0xF0))
                    r -= 16
                nbits = m.bit_length()
                ops.append(("sym", (r << 4) | nbits))
                ops.append(
                    ("bits", m if t > 0 else (~m) & ((1 << nbits) - 1), nbits)
                )
                r = 0
            if r > 0:
                state["eobrun"] += 1
                if state["eobrun"] == 0x7FFF:
                    _flush_eobrun(ops, state)
    _flush_eobrun(ops, state)
    return ops


def _ops_ac_refine(grid, bh, bw, ss, se, al) -> list:
    """libjpeg encode_mcu_AC_refine: newly-significant coefficients as
    run-of-zero-history symbols + sign bit; already-nonzero ones as
    correction bits buffered behind the next symbol (or the EOB run)."""
    ops: list = []
    state = {"eobrun": 0, "be": []}
    for by in range(bh):
        for bx in range(bw):
            zz = grid[by][bx]
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            eob = -1  # band index of the LAST newly-significant coef
            for i, m in enumerate(absv):
                if m == 1:
                    eob = i
            r = 0
            br: list = []
            for i, m in enumerate(absv):
                if m == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    _flush_eobrun(ops, state)
                    ops.append(("sym", 0xF0))
                    r -= 16
                    for bit in br:
                        ops.append(("rawbit", bit))
                    br = []
                if m > 1:
                    br.append(m & 1)
                    continue
                _flush_eobrun(ops, state)
                ops.append(("sym", (r << 4) | 1))
                ops.append(("rawbit", 1 if zz[ss + i] > 0 else 0))
                for bit in br:
                    ops.append(("rawbit", bit))
                br = []
                r = 0
            if r > 0 or br:
                state["eobrun"] += 1
                state["be"].extend(br)
                if state["eobrun"] == 0x7FFF:
                    _flush_eobrun(ops, state)
    _flush_eobrun(ops, state)
    return ops


def encode_jpeg_progressive(
    pixels: list,
    width: int,
    height: int,
    channels: int = 3,
    q: int = 16,
    subsampling: str = "444",
    orientation: int | None = None,
) -> bytes:
    """Encode a REAL progressive (SOF2) JPEG with a libjpeg-style scan
    script: DC first at Al=1 + DC refinement, per-component AC spectral
    bands (luma split 1-5 / 6-63 starting at Al=2, chroma full band at
    Al=1), then successive-approximation AC refinements down to Al=0.

    The quantized coefficients are IDENTICAL to ``encode_jpeg``'s (same
    FDCT, same table, same DC exactness contract) — only the entropy
    layer differs — so a progressive fixture passes the same
    closed-form oracle as its baseline sibling, and
    ``decode_jpeg(encode_jpeg_progressive(px)) ==
    decode_jpeg(encode_jpeg(px))`` pixel-for-pixel. Per-scan OPTIMIZED
    Huffman tables (two-pass over each scan's symbol stream)."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if subsampling == "420" and channels != 3:
        raise ValueError("4:2:0 requires 3 channels")
    px = np.asarray(pixels, dtype=np.float64).reshape(height, width, channels)
    if channels == 3:
        ycc = _rgb_to_ycbcr(px.reshape(-1, 3)).reshape(height, width, 3)
        planes = [ycc[:, :, c] for c in range(3)]
    else:
        planes = [np.clip(_floor_half(px[:, :, 0]), 0, 255).astype(np.int64)]
    if subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
        planes = [planes[0], _subsample2(planes[1]), _subsample2(planes[2])]
        mw, mh = -(-width // 16), -(-height // 16)
    else:
        samp = [(1, 1)] * channels
        mw, mh = -(-width // 8), -(-height // 8)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    grids = []
    bounds = []  # (bh, bw) of each component's OWN block grid
    for c, p in enumerate(planes):
        hs, vs = samp[c]
        H, W = mh * 8 * vs, mw * 8 * hs
        padded = np.pad(
            p, ((0, H - p.shape[0]), (0, W - p.shape[1])), mode="edge"
        )
        grids.append(
            [
                [
                    _quantize_block(padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q)
                    for bx in range(W // 8)
                ]
                for by in range(H // 8)
            ]
        )
        cw = -(-width * hs // hmax)
        ch = -(-height * vs // vmax)
        bounds.append((-(-ch // 8), -(-cw // 8)))

    # scan script: (kind, comp|None, Ss, Se, Ah, Al)
    script = [("dc_first", None, 0, 0, 0, 1)]
    script += [("ac_first", 0, 1, 5, 0, 2), ("ac_first", 0, 6, 63, 0, 2)]
    for c in range(1, channels):
        script.append(("ac_first", c, 1, 63, 0, 1))
    script.append(("dc_refine", None, 0, 0, 1, 0))
    script += [("ac_refine", 0, 1, 5, 2, 1), ("ac_refine", 0, 6, 63, 2, 1)]
    script += [("ac_refine", 0, 1, 5, 1, 0), ("ac_refine", 0, 6, 63, 1, 0)]
    for c in range(1, channels):
        script.append(("ac_refine", c, 1, 63, 1, 0))

    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    if orientation is not None:
        out += exif_app1(orientation)
    for tid in sorted({0} | ({1} if channels == 3 else set())):
        dqt = bytes([tid]) + bytes([q] * 64)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for c in range(channels):
        hs, vs = samp[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0 if c == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof

    for kind, comp, ss, se, ah, al in script:
        if kind == "dc_first":
            ops = _ops_dc_first(grids, samp, channels, mw, mh, al)
        elif kind == "dc_refine":
            ops = _ops_dc_refine(grids, samp, channels, mw, mh, al)
        elif kind == "ac_first":
            bh, bw = bounds[comp]
            ops = _ops_ac_first(grids[comp], bh, bw, ss, se, al)
        else:
            bh, bw = bounds[comp]
            ops = _ops_ac_refine(grids[comp], bh, bw, ss, se, al)
        syms = [o[1] for o in ops if o[0] == "sym"]
        codes = None
        if kind != "dc_refine":
            freqs: dict = {}
            for s in syms:
                freqs[s] = freqs.get(s, 0) + 1
            bits, huffval, codes = _build_table(freqs)
            tc = 0 if kind == "dc_first" else 1
            dht = bytes([(tc << 4) | 0]) + bytes(bits) + bytes(huffval)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
        if kind.startswith("dc"):
            sos = bytearray([channels])
            for c in range(channels):
                sos += bytes([c + 1, 0x00])
        else:
            sos = bytearray([1, comp + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        w = _BitWriter()
        for op in ops:
            if op[0] == "sym":
                code, ln = codes[op[1]]
                w.write(code, ln)
            elif op[0] == "bits":
                w.write(op[1], op[2])
            else:  # rawbit
                w.write(op[1], 1)
        out += w.flush()
    out += b"\xff\xd9"
    return bytes(out)
