"""Baseline + progressive JPEG codec in pure numpy + stdlib — no libjpeg/PIL.

Covers the two DCT Huffman processes that make up essentially all
web-corpus JPEGs:

* **Baseline sequential (SOF0)** — marker parse, DQT/DHT/SOF0/SOS/DRI,
  Huffman entropy decode with byte-unstuffing and restart markers.
* **Progressive (SOF2)** — multi-scan decode with spectral selection and
  successive approximation: interleaved/non-interleaved DC first +
  refinement scans, per-component AC band scans with EOB-run coding, and
  the AC refinement (correction-bit) procedure, restart markers included.

Both paths share one coefficient-array representation; dequantization +
IDCT run once at the end as a single vectorized einsum per component,
followed by chroma upsampling for any (h, v) sampling factors and
YCbCr→RGB. Arithmetic coding and 12-bit precision raise — those genuinely
warrant libjpeg in a deployment.

The encoder (`encode_jpeg`) writes flat quantization tables and simple
fixed-length canonical Huffman tables — it exists so the decoder is
testable in this container (roundtrip ≈ identity within the quantization
error it controls); it is NOT a size-optimal encoder. With
``progressive=True`` it emits a six-scan SOF2 stream (DC Al=1 → AC bands
1-5 / 6-63 at Al=1 per component → DC refinement → AC refinements) so
every progressive decode path above has an in-container roundtrip.

Per-block Python loops bound entropy-decode throughput; the mapInPandas
batching above this keeps cores busy, and a deployment swaps in libjpeg
behind the same ``decode_jpeg(bytes) -> (h, w, 3) uint8`` contract.
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

_k = np.arange(8)
_DCT = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) / 2.0
_DCT[0] *= 1.0 / np.sqrt(2.0)


def _idct_all(coef: np.ndarray) -> np.ndarray:
    """(…, 8, 8) frequency blocks → spatial blocks, vectorized."""
    return np.einsum("ki,...kl,lj->...ij", _DCT, coef, _DCT, optimize=True)


# --------------------------------------------------------------- decoding

class _Bits:
    """MSB-first bit reader over an unstuffed entropy segment."""

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        v = 0
        b = self.bits
        p = self.pos
        if p + n > len(b):
            raise ValueError("truncated JPEG entropy data")
        for i in range(n):
            v = (v << 1) | int(b[p + i])
        self.pos = p + n
        return v


def _build_huff(counts: bytes, symbols: bytes) -> dict:
    """(length, code) -> symbol, canonical order per the JPEG spec."""
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


def _huff_decode(bits: _Bits, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_intervals(raw: bytes) -> tuple[list[bytes], int]:
    """Unstuff one scan's entropy data, splitting at RSTn markers.
    Returns (intervals, bytes consumed including any trailing marker
    boundary — i.e. the offset of the first non-RST marker)."""
    intervals: list[bytes] = []
    cur = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b == 0xFF:
            nxt = raw[i + 1] if i + 1 < n else 0
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn: new interval, reset predictors
                intervals.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # a real marker ends the scan
        cur.append(b)
        i += 1
    intervals.append(bytes(cur))
    return intervals, i


def _parse(payload: bytes) -> tuple[dict, dict, list[dict]]:
    """Marker walk → (frame, quant tables, scans). Huffman tables are
    snapshotted per scan (they may legally be redefined between scans)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart = 0
    scans: list[dict] = []
    pos = 2
    while pos < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0xF
                if prec != 0:
                    raise ValueError("16-bit quant tables not supported")
                qt[tid] = np.frombuffer(seg, np.uint8, 64, i + 1).astype(np.int32)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0xF
                counts = seg[i + 1 : i + 17]
                n = sum(counts)
                table = _build_huff(counts, seg[i + 17 : i + 17 + n])
                (huff_dc if cls == 0 else huff_ac)[tid] = table
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * ci)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"unsupported JPEG process (SOF{marker - 0xC0}) — deploy libjpeg"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = []
            for si in range(ns):
                cid, tabs = seg[1 + 2 * si], seg[2 + 2 * si]
                sel.append((cid, tabs >> 4, tabs & 0xF))
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            data_start = pos + 2 + seglen
            intervals, used = _split_intervals(payload[data_start:])
            scans.append({
                "sel": sel,
                "ss": ss, "se": se, "ah": ahal >> 4, "al": ahal & 0xF,
                "restart": restart,
                "intervals": intervals,
                # per-scan table snapshots: DHT may be redefined between scans
                "dc": {cid: huff_dc.get(td) for cid, td, _ in sel},
                "ac": {cid: huff_ac.get(ta) for cid, _, ta in sel},
            })
            pos = data_start + used
            continue
        pos += 2 + seglen
    if frame is None or not scans:
        raise ValueError("malformed JPEG (missing SOF/SOS)")
    return frame, qt, scans


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _geometry(frame: dict) -> dict:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = _ceil_div(frame["w"], 8 * hmax)
    mcuy = _ceil_div(frame["h"], 8 * vmax)
    for c in comps:
        # full interleave-padded block grid (what DC/interleaved scans cover)
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        # non-interleaved scans cover only the component's own sampled grid
        c["cw"] = _ceil_div(_ceil_div(frame["w"] * c["h"], hmax), 8)
        c["ch"] = _ceil_div(_ceil_div(frame["h"] * c["v"], vmax), 8)
    return {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy}


def _decode_scan_baseline(scan: dict, frame: dict, geom: dict, coefs: dict) -> None:
    """One interleaved sequential scan (the whole image for SOF0)."""
    comps = [c for c in frame["comps"] if c["id"] in scan["dc"]]
    pred = {c["id"]: 0 for c in comps}
    intervals = scan["intervals"]
    restart = scan["restart"]
    bits = _Bits(intervals[0])
    interval_ix = 0
    n_in_interval = 0
    for my in range(geom["mcuy"]):
        for mx in range(geom["mcux"]):
            if restart and n_in_interval == restart:
                interval_ix += 1
                bits = _Bits(intervals[interval_ix])
                pred = {c["id"]: 0 for c in comps}
                n_in_interval = 0
            n_in_interval += 1
            for c in comps:
                dc_t = scan["dc"][c["id"]]
                ac_t = scan["ac"][c["id"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = coefs[c["id"]][my * c["v"] + by, mx * c["h"] + bx]
                        s = _huff_decode(bits, dc_t)
                        pred[c["id"]] += _extend(bits.read(s), s)
                        zz[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(bits, ac_t)
                            r, s = rs >> 4, rs & 0xF
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(bits.read(s), s)
                            k += 1


def _scan_blocks(scan: dict, frame: dict, geom: dict):
    """Yield the block sequence of a progressive scan: lists of
    (comp, by, bx) per MCU (interleaved) or one block per MCU
    (non-interleaved single-component scans, raster over cw × ch)."""
    comps = [c for c in frame["comps"] if c["id"] in scan["dc"]]
    if len(comps) > 1:
        for my in range(geom["mcuy"]):
            for mx in range(geom["mcux"]):
                mcu = []
                for c in comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            mcu.append((c, my * c["v"] + by, mx * c["h"] + bx))
                yield mcu
    else:
        (c,) = comps
        for by in range(c["ch"]):
            for bx in range(c["cw"]):
                yield [(c, by, bx)]


def _decode_scan_progressive(scan: dict, frame: dict, geom: dict,
                             coefs: dict) -> None:
    """One SOF2 scan: DC first/refine (interleaved or not) or a single-
    component AC band scan, first (EOB-run) or refinement (correction
    bits). Spec: ITU-T T.81 §G.1.2 / G.2; no code shared with libjpeg."""
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("invalid progressive scan (Ss=0 requires Se=0)")
    if not is_dc and len(scan["dc"]) != 1:
        raise ValueError("progressive AC scans must be single-component")

    intervals = scan["intervals"]
    restart = scan["restart"]
    bits = _Bits(intervals[0])
    interval_ix = 0
    n_in_interval = 0
    pred = {cid: 0 for cid in scan["dc"]}
    eobrun = 0

    for mcu in _scan_blocks(scan, frame, geom):
        if restart and n_in_interval == restart:
            interval_ix += 1
            bits = _Bits(intervals[interval_ix])
            pred = {cid: 0 for cid in scan["dc"]}
            eobrun = 0
            n_in_interval = 0
        n_in_interval += 1
        for c, by, bx in mcu:
            zz = coefs[c["id"]][by, bx]
            if is_dc:
                if ah == 0:  # DC first scan: diffs of (DC >> Al)
                    dc_t = scan["dc"][c["id"]]
                    s = _huff_decode(bits, dc_t)
                    pred[c["id"]] += _extend(bits.read(s), s)
                    zz[0] = pred[c["id"]] << al
                else:  # DC refinement: one raw bit per block
                    if bits.read(1):
                        zz[0] |= 1 << al
                continue
            ac_t = scan["ac"][c["id"]]
            if ah == 0:
                eobrun = _ac_first_block(bits, ac_t, zz, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_block(bits, ac_t, zz, ss, se, al, eobrun)


def _ac_first_block(bits, table, zz, ss, se, al, eobrun) -> int:
    """AC first scan for one block (T.81 §G.1.2.2): EOB-run coded."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(bits, table)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r < 15:  # EOBn: run of 2^r + ext blocks ending here
                eobrun = (1 << r) - 1
                if r:
                    eobrun += bits.read(r)
                return eobrun
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC index overflow in progressive scan")
        zz[k] = _extend(bits.read(s), s) << al
        k += 1
    return 0


def _ac_refine_block(bits, table, zz, ss, se, al, eobrun) -> int:
    """AC refinement for one block (T.81 §G.1.2.3): each coefficient that
    is already nonzero gets a correction bit; newly nonzero coefficients
    arrive as ±1 at this bit position, with runs counted over zero-history
    positions only."""
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(bits, table)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r < 15:  # EOBn — the tail below decrements for this block
                    eobrun = 1 << r
                    if r:
                        eobrun += bits.read(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("refinement scan with |coef| > 1")
                newval = p1 if bits.read(1) else m1
            # advance over r zero-history coefficients, applying
            # correction bits to the nonzero ones passed on the way
            while k <= se:
                if zz[k] != 0:
                    if bits.read(1) and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        if newval:
                            zz[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        # inside an EOB run: only correction bits for the remaining
        # already-nonzero coefficients of the band
        while k <= se:
            if zz[k] != 0:
                if bits.read(1) and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG → (h, w, 3) uint8 RGB
    (grayscale replicated)."""
    frame, qt, scans = _parse(payload)
    geom = _geometry(frame)
    coefs = {
        c["id"]: np.zeros((c["bh"], c["bw"], 64), dtype=np.int32)
        for c in frame["comps"]
    }
    if frame["progressive"]:
        for scan in scans:
            _decode_scan_progressive(scan, frame, geom, coefs)
    else:
        _decode_scan_baseline(scans[0], frame, geom, coefs)

    # dequantize + IDCT, one vectorized pass per component
    h, w = frame["h"], frame["w"]
    hmax, vmax = geom["hmax"], geom["vmax"]
    full = []
    for c in frame["comps"]:
        zz = coefs[c["id"]].astype(np.float64) * qt[c["tq"]][None, None, :]
        coef = np.zeros_like(zz)
        coef[..., ZIGZAG] = zz
        bh, bw = coef.shape[:2]
        blocks = _idct_all(coef.reshape(bh, bw, 8, 8)) + 128.0
        p = blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:  # nearest upsample to full resolution
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# --------------------------------------------------------------- encoding

def _flat_huff_spec(symbols: list[int], length: int) -> tuple[bytes, bytes, dict]:
    """Fixed-length canonical Huffman table over ``symbols`` (valid while
    len(symbols)·2^-length ≤ 1). Returns (counts16, symbol bytes,
    symbol -> (length, code))."""
    counts = bytearray(16)
    counts[length - 1] = len(symbols)
    # with no shorter codes, canonical assignment at one length is simply
    # 0, 1, 2, … in symbol order — matching any spec decoder's DHT walk
    enc = {s: (length, i) for i, s in enumerate(symbols)}
    return bytes(counts), bytes(symbols), enc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


# DC symbols 0-11 at 4 bits; AC (r, s) for s 0-10 at 8 bits — the s=0 row
# doubles as baseline EOB/ZRL and progressive EOBn/ZRL
_DC_SYMS = list(range(12))
_AC_SYMS = [(r << 4) | s for r in range(16) for s in range(11)]


# spatial basis of each zigzag coefficient: block = Σ_k coef_k · _BASIS[k]
_BASIS = (_DCT[:, None, :, None] * _DCT[None, :, None, :]).reshape(64, 8, 8)[ZIGZAG]


def _fit_visible(zz: np.ndarray, block: np.ndarray, rows: int, cols: int,
                 q: np.ndarray) -> None:
    """±1 coordinate descent on one edge block's quantized coefficients
    (in place): minimise the squared error over its visible ``rows`` ×
    ``cols`` pixels only. Rounding each coefficient spreads the whole
    block's quantization error over pixels the image crop never shows,
    so on a tiny image the few visible ones can carry all of it. The
    residual is kept as its inner products with the step images, so a
    step costs one 64-vector update."""
    step = _BASIS[:, :rows, :cols].reshape(64, -1) * q[:, None]
    gram = step @ step.T
    g = step @ (zz @ step - block[:rows, :cols].ravel())
    for _ in range(32):  # at most one unit move per coefficient per sweep
        moved = False
        for k in range(64):
            for d in (1, -1):
                # SSE change of zz[k] += d: 2·d·<step_k, resid> + |step_k|²;
                # |zz| <= 1023 keeps every value inside the Huffman tables
                if 2 * d * g[k] + gram[k, k] < 0 and abs(zz[k] + d) <= 1023:
                    zz[k] += d
                    g += d * gram[k]
                    moved = True
                    break
        if not moved:
            return


class _Encoder:
    """Shared state for the sequential and progressive emitters."""

    def __init__(self, planes: dict[int, np.ndarray], comps: list[dict],
                 q: np.ndarray, restart_every: int):
        self.q = q
        self.comps = comps
        self.restart = restart_every
        self.dc_spec = _flat_huff_spec(_DC_SYMS, 4)
        self.ac_spec = _flat_huff_spec(_AC_SYMS, 8)
        # quantized zigzag coefficients per component block grid
        self.zz: dict[int, np.ndarray] = {}
        for c in comps:
            p = planes[c["id"]]
            bh, bw = p.shape[0] // 8, p.shape[1] // 8
            blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
            coef = _DCT[None, None] @ blocks @ _DCT.T[None, None]
            zz = np.round(coef.reshape(bh, bw, 64)[..., ZIGZAG] / q).astype(np.int64)
            # blocks the image edge cuts: fit the visible pixels only
            for by in range(bh):
                for bx in range(bw):
                    rows = min(max(c["vh"] - 8 * by, 0), 8)
                    cols = min(max(c["vw"] - 8 * bx, 0), 8)
                    if 0 < rows * cols < 64:
                        _fit_visible(zz[by, bx], blocks[by, bx], rows, cols, q)
            self.zz[c["id"]] = zz
            c["bh"], c["bw"] = bh, bw

    # -- entropy helpers ---------------------------------------------------
    def _start_scan(self):
        self.bw = _BitWriter()
        self.entropy = bytearray()
        self.rst = 0
        self.n_mcu = 0

    def _maybe_restart(self, flush_eob=None):
        if self.restart and self.n_mcu and self.n_mcu % self.restart == 0:
            if flush_eob is not None:
                flush_eob()
            self.bw.flush()
            self.entropy += self.bw.out
            self.entropy += bytes([0xFF, 0xD0 + self.rst])
            self.rst = (self.rst + 1) % 8
            self.bw = _BitWriter()
            self.pred = {c["id"]: 0 for c in self.comps}
            return True
        return False

    def _end_scan(self) -> bytes:
        self.bw.flush()
        self.entropy += self.bw.out
        return bytes(self.entropy)

    def _emit_dc(self, diff: int):
        s = _category(diff)
        l, c = self.dc_spec[2][s]
        self.bw.write(c, l)
        if s:
            self.bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)

    def _emit_ac(self, rs: int):
        l, c = self.ac_spec[2][rs]
        self.bw.write(c, l)

    # -- sequential (baseline) ----------------------------------------------
    def baseline_scan(self, geom: dict) -> bytes:
        self._start_scan()
        self.pred = {c["id"]: 0 for c in self.comps}
        for my in range(geom["mcuy"]):
            for mx in range(geom["mcux"]):
                self._maybe_restart()
                self.n_mcu += 1
                for c in self.comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            self._baseline_block(
                                c, my * c["v"] + by, mx * c["h"] + bx
                            )
        return self._end_scan()

    def _baseline_block(self, c: dict, by: int, bx: int):
        zz = self.zz[c["id"]][by, bx]
        diff = int(zz[0]) - self.pred[c["id"]]
        self.pred[c["id"]] = int(zz[0])
        self._emit_dc(diff)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                self._emit_ac(0x00)
                break
            while run >= 16:
                self._emit_ac(0xF0)
                run -= 16
            v = int(zz[k])
            s = _category(v)
            self._emit_ac((run << 4) | s)
            self.bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            k += 1

    # -- progressive ---------------------------------------------------------
    def dc_scan(self, geom: dict, ah: int, al: int) -> bytes:
        """Interleaved DC scan: first (Ah=0, diffs of DC >> Al, arithmetic
        shift) or refinement (Ah>0, raw bit (DC >> Al) & 1 per block)."""
        self._start_scan()
        self.pred = {c["id"]: 0 for c in self.comps}
        for my in range(geom["mcuy"]):
            for mx in range(geom["mcux"]):
                self._maybe_restart()
                self.n_mcu += 1
                for c in self.comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            dc = int(self.zz[c["id"]][my * c["v"] + by,
                                                      mx * c["h"] + bx][0])
                            if ah == 0:
                                v = dc >> al
                                self._emit_dc(v - self.pred[c["id"]])
                                self.pred[c["id"]] = v
                            else:
                                self.bw.write((dc >> al) & 1, 1)
        return self._end_scan()

    def ac_first_scan(self, c: dict, ss: int, se: int, al: int) -> bytes:
        """Single-component AC band scan, Ah=0: EOB-run coded values of
        trunc(coef / 2^Al)."""
        self._start_scan()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun > 0:  # capped at 0x7FFF below, so one symbol suffices
                r = eobrun.bit_length() - 1
                self._emit_ac(r << 4)
                if r:
                    self.bw.write(eobrun - (1 << r), r)
                eobrun = 0

        for by in range(c["ch"]):
            for bx in range(c["cw"]):
                self._maybe_restart(flush_eob)
                self.n_mcu += 1
                zz = self.zz[c["id"]][by, bx]
                run = 0
                emitted = False
                for k in range(ss, se + 1):
                    v = int(zz[k])
                    t = (abs(v) >> al) * (1 if v >= 0 else -1)
                    if t == 0:
                        run += 1
                        continue
                    if not emitted:
                        flush_eob()
                        emitted = True
                    while run >= 16:
                        self._emit_ac(0xF0)
                        run -= 16
                    s = _category(t)
                    self._emit_ac((run << 4) | s)
                    self.bw.write(t if t >= 0 else t + (1 << s) - 1, s)
                    run = 0
                if not emitted or run > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        return self._end_scan()

    def ac_refine_scan(self, c: dict, ss: int, se: int, ah: int, al: int) -> bytes:
        """Single-component AC refinement scan (Ah=al+1 level → Al):
        correction bits for history-nonzero coefficients, ±1 insertions for
        newly nonzero ones, zero-history runs + EOB runs."""
        self._start_scan()
        eobrun = 0
        eob_bits: list[int] = []  # correction bits belonging to the EOB run

        def flush_eob():
            nonlocal eobrun
            if eobrun == 0:
                # correction bits with no pending EOBn can't exist: bits are
                # only buffered once a block ends inside an EOB run
                assert not eob_bits
                return
            r = eobrun.bit_length() - 1
            self._emit_ac(r << 4)
            if r:
                self.bw.write(eobrun - (1 << r), r)
            for b in eob_bits:
                self.bw.write(b, 1)
            eob_bits.clear()
            eobrun = 0

        for by in range(c["ch"]):
            for bx in range(c["cw"]):
                self._maybe_restart(flush_eob)
                self.n_mcu += 1
                zz = self.zz[c["id"]][by, bx]
                # values at this refinement level
                t = [
                    (abs(int(zz[k])) >> al) * (1 if zz[k] >= 0 else -1)
                    for k in range(ss, se + 1)
                ]
                hist = [abs(v) > 1 for v in t]   # nonzero before this scan
                new = [abs(v) == 1 for v in t]   # newly nonzero at this level
                last_new = -1
                for i, n in enumerate(new):
                    if n:
                        last_new = i
                if last_new < 0:
                    # whole band is correction bits → extend the EOB run
                    eobrun += 1
                    eob_bits.extend(abs(v) & 1 for v in t if abs(v) > 1)
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                corr: list[int] = []  # bits pending behind the current run
                for i in range(last_new + 1):
                    v = t[i]
                    if not hist[i] and not new[i]:
                        run += 1
                        continue
                    # any nonzero position: the decoder's advance must not
                    # cross >15 zero-history slots, so flush ZRLs here —
                    # their trailing correction bits are exactly those the
                    # decoder reads while advancing over the flushed zeros
                    while run >= 16:
                        self._emit_ac(0xF0)
                        for b in corr:
                            self.bw.write(b, 1)
                        corr = []
                        run -= 16
                    if hist[i]:
                        corr.append(abs(v) & 1)
                        continue
                    self._emit_ac((run << 4) | 1)
                    self.bw.write(1 if v > 0 else 0, 1)
                    for b in corr:
                        self.bw.write(b, 1)
                    corr = []
                    run = 0
                # tail beyond the last insertion joins the EOB run (libjpeg's
                # r > 0 || BR > 0 rule: nothing pending → no EOB increment)
                tail = list(range(last_new + 1, len(t)))
                if tail:
                    eobrun += 1
                    eob_bits.extend(abs(t[j]) & 1 for j in tail if hist[j])
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        return self._end_scan()


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _sos_header(sel: list[tuple[int, int, int]], ss: int, se: int,
                ah: int, al: int) -> bytes:
    body = bytes([len(sel)])
    for cid, td, ta in sel:
        body += struct.pack(">BB", cid, (td << 4) | ta)
    body += bytes([ss, se, (ah << 4) | al])
    return _seg(0xDA, body)


def encode_jpeg(
    img: np.ndarray,
    qscale: int = 8,
    subsampling: str = "444",
    restart_every: int = 0,
    progressive: bool = False,
) -> bytes:
    """(h, w, 3) uint8 RGB → JPEG (flat quant = qscale, fixed-length
    canonical Huffman tables). ``subsampling`` is "444" or "420" (2×2
    mean-downsampled chroma); ``restart_every`` > 0 inserts RSTn markers
    every that many MCUs (blocks, in non-interleaved progressive scans)
    and resets the predictors. ``progressive=True`` writes a six-scan
    SOF2 stream: interleaved DC at Al=1, per-component AC bands 1-5 and
    6-63 at Al=1, then the DC and AC refinement scans down to Al=0 —
    exercising every progressive decode path. Lossy by qscale (plus
    chroma averaging for 420)."""
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    gray = img.ndim == 2
    sub = 1 if gray else (2 if subsampling == "420" else 1)
    h, w = img.shape[:2]
    x = img.astype(np.float64)
    if gray:
        y, cb, cr = x, None, None
    else:
        y = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
        cb = -0.168736 * x[..., 0] - 0.331264 * x[..., 1] + 0.5 * x[..., 2] + 128.0
        cr = 0.5 * x[..., 0] - 0.418688 * x[..., 1] - 0.081312 * x[..., 2] + 128.0

    q = np.full(64, qscale, dtype=np.uint8)
    mcu_px = 8 * sub
    ph = -(-h // mcu_px) * mcu_px
    pw = -(-w // mcu_px) * mcu_px

    def pad(p):
        out = np.empty((ph, pw))
        out[: p.shape[0], : p.shape[1]] = p
        out[p.shape[0] :, : p.shape[1]] = p[-1:, :]
        out[:, p.shape[1] :] = out[:, p.shape[1] - 1 : p.shape[1]]
        return out

    yp = pad(y)
    if gray:
        cbp = crp = None
    elif sub == 2:
        cbp = pad(cb).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        crp = pad(cr).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    else:
        cbp, crp = pad(cb), pad(cr)

    ncomp = 1 if gray else 3
    comp_ids = (1,) if gray else (1, 2, 3)
    comps = []
    planes = {}
    for ci, cid in enumerate(comp_ids):
        hv = (sub, sub) if ci == 0 else (1, 1)
        comps.append({"id": cid, "h": hv[0], "v": hv[1], "tq": 0})
        planes[cid] = (yp, cbp, crp)[ci]

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    geom = {
        "mcux": pw // mcu_px,
        "mcuy": ph // mcu_px,
        "hmax": hmax,
        "vmax": vmax,
    }
    for c in comps:
        # visible extent of the component plane, then its block count
        c["vw"], c["vh"] = -(-w * c["h"] // hmax), -(-h * c["v"] // vmax)
        c["cw"], c["ch"] = -(-c["vw"] // 8), -(-c["vh"] // 8)

    enc = _Encoder(planes, comps, q.astype(np.float64), restart_every)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + q.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in comps:
        sof += struct.pack(">BBB", c["id"], (c["h"] << 4) | c["v"], c["tq"])
    out += _seg(0xC2 if progressive else 0xC0, sof)
    dc_counts, dc_symbytes, _ = enc.dc_spec
    ac_counts, ac_symbytes, _ = enc.ac_spec
    out += _seg(0xC4, b"\x00" + dc_counts + dc_symbytes)
    out += _seg(0xC4, b"\x10" + ac_counts + ac_symbytes)
    if restart_every:
        out += _seg(0xDD, struct.pack(">H", restart_every))

    all_sel = [(c["id"], 0, 0) for c in comps]
    if not progressive:
        out += _sos_header(all_sel, 0, 63, 0, 0)
        out += enc.baseline_scan(geom)
    else:
        # scan 1: DC first, Al=1, interleaved
        out += _sos_header(all_sel, 0, 0, 0, 1)
        out += enc.dc_scan(geom, 0, 1)
        # scans 2-3 per component: AC bands at Al=1
        for c in comps:
            out += _sos_header([(c["id"], 0, 0)], 1, 5, 0, 1)
            out += enc.ac_first_scan(c, 1, 5, 1)
        for c in comps:
            out += _sos_header([(c["id"], 0, 0)], 6, 63, 0, 1)
            out += enc.ac_first_scan(c, 6, 63, 1)
        # scan 4: DC refinement to Al=0 (raw bits)
        out += _sos_header(all_sel, 0, 0, 1, 0)
        out += enc.dc_scan(geom, 1, 0)
        # scans 5-6 per component: AC refinement to Al=0
        for c in comps:
            out += _sos_header([(c["id"], 0, 0)], 1, 5, 1, 0)
            out += enc.ac_refine_scan(c, 1, 5, 1, 0)
        for c in comps:
            out += _sos_header([(c["id"], 0, 0)], 6, 63, 1, 0)
            out += enc.ac_refine_scan(c, 6, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)
