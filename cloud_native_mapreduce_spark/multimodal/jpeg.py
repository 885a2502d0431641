"""Pure-stdlib(+numpy) JPEG codec (baseline + progressive) for the multimodal column path.

Real Huffman 8-bit JPEG, both entropy organizations: BASELINE
sequential (ITU T.81 SOF0) — DQT/SOF/DHT/DRI/SOS parse, MCU entropy
decode (byte unstuffing, restart markers, arbitrary sampling factors
with nearest-neighbor chroma upsample), dequantize, inverse-DCT,
color-convert — and PROGRESSIVE (SOF2, Annex G): multi-scan spectral
selection AND successive approximation (DC first/refine, AC
first/refine with EOBRUN and the correction-bit walk), coefficients
accumulated scan by scan and reconstructed at EOI. The two paths
share the quantization front half, so progressive and baseline
encodings of the same image decode to byte-identical pixels — the
cross-organization check the tests pin. Arithmetic (SOF9+),
hierarchical, and 12-bit files keep an honest NotImplementedError:
those genuinely need a codec library.

The encoders (baseline `encode`, progressive `encode_progressive`)
exist so tests and registry corpora can MAKE JPEGs deterministically
in this no-codec-library container (grey or RGB, 4:4:4 or 4:2:0,
Annex K quantization + Huffman tables, libjpeg quality scaling).
Spec-conformant output, byte-deterministic for a given (pixels,
quality).

All constants below are from the public ITU T.81 spec (Annex K tables,
zig-zag order) and the JFIF color transform — no library code.

The codec is built by one factory, `_jpeg_codec`, whose closures share
the tables it precomputes. `binary.py` registers this package with
cloudpickle to pickle by value, so Python workers need no import path
to the engine.
"""

from __future__ import annotations


def _jpeg_codec():
    import struct

    import numpy as np

    ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
          12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
          35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
          58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

    # Annex K.1/K.2 quantization tables (luminance, chrominance)
    QL = np.array([
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
    QC = np.array([
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

    # Annex K.3 Huffman specs: (BITS[1..16], HUFFVAL)
    DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
    DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
            list(range(12)))
    AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
    AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

    # orthonormal 8-point DCT-II matrix; forward F = C B Cᵀ, inverse
    # B = Cᵀ F C
    k = np.arange(8)
    _C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    _C[0, :] = 1.0
    _C *= np.sqrt(np.where(k == 0, 1.0, 2.0) / 8)[:, None]

    def _canonical(bits, vals):
        """BITS/HUFFVAL → {symbol: (code, length)} (T.81 C.2)."""
        out, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[i]] = (code, ln)
                code += 1
                i += 1
            code <<= 1
        return out

    # table-construction memo: a corpus of many small images reuses the
    # same 4 Annex-K tables per file, and rebuilding the ~160-entry dicts
    # per image dominated header handling in the sf1 soak profile.
    # Size-capped: files with per-image OPTIMIZED Huffman tables would
    # otherwise grow the memo without bound in a long-lived worker —
    # a full reset at the cap keeps the common-tables win and bounds
    # worst-case memory at ~64 tables
    _dmap_cache: dict = {}
    _DMAP_CACHE_MAX = 64

    def _decode_map(bits, vals):
        key = (bytes(bits), bytes(vals))
        hit = _dmap_cache.get(key)
        if hit is None:
            if len(_dmap_cache) >= _DMAP_CACHE_MAX:
                _dmap_cache.clear()
            hit = {(ln, c): sym
                   for sym, (c, ln) in _canonical(bits, vals).items()}
            _dmap_cache[key] = hit
        return hit

    def _scale_q(base, quality):
        quality = min(100, max(1, int(quality)))
        s = 5000 // quality if quality < 50 else 200 - 2 * quality
        return np.clip((base * s + 50) // 100, 1, 255).astype(np.int32)

    def _mag_bits(v):
        """(category, bit-pattern) for a DC diff / AC coefficient."""
        t, a = 0, abs(int(v))
        while a:
            t += 1
            a >>= 1
        return t, (int(v) if v >= 0 else int(v) + (1 << t) - 1)

    class _Writer:
        def __init__(self):
            self.raw = bytearray()
            self.acc = 0
            self.n = 0

        def bits(self, val, length):
            self.acc = (self.acc << length) | (val & ((1 << length) - 1))
            self.n += length
            while self.n >= 8:
                self.raw.append((self.acc >> (self.n - 8)) & 0xFF)
                self.n -= 8
            self.acc &= (1 << self.n) - 1

        def flush(self):
            if self.n:
                self.bits((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-pad

        @property
        def out(self) -> bytearray:
            """Entropy bytes with T.81 byte stuffing applied in ONE pass:
            stuffing is exactly 'a 0x00 follows every 0xFF', so a bulk
            replace after the bit loop beats a per-byte branch inside
            it."""
            return self.raw.replace(b"\xFF", b"\xFF\x00")

    def _encode_block(w, zz, dc_codes, ac_codes, pred):
        """Huffman-write one block from its zigzag coefficient LIST
        (DCT+quant+zigzag happen batched across all of a component's
        blocks in `encode` — one numpy matmul instead of per-block
        8×8 calls; this scalar writer is the irreducible bit stream)."""
        diff = zz[0] - pred
        t, b = _mag_bits(diff)
        code, ln = dc_codes[t]
        w.bits(code, ln)
        if t:
            w.bits(b, t)
        run = 0
        last = 63
        while last > 0 and zz[last] == 0:
            last -= 1
        for i in range(1, last + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                w.bits(code, ln)
                run -= 16
            t, b = _mag_bits(int(zz[i]))
            code, ln = ac_codes[(run << 4) | t]
            w.bits(code, ln)
            w.bits(b, t)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            w.bits(code, ln)
        return int(zz[0])

    def _prep_zz(pixels, width, height, channels, quality, subsampling):
        """Shared encoder front half: validate, color-convert,
        subsample, pad, batched DCT+quantize. Returns (samps, ql, qc,
        mcux, mcuy, grids) with grids[ci] an int32 (block_rows,
        block_cols, 64) zigzag-coefficient array — the SAME
        coefficients whichever entropy organization (baseline or
        progressive) writes them out."""
        if len(pixels) != width * height * channels:
            raise ValueError("pixel buffer does not match dimensions")
        if channels not in (1, 3):
            raise ValueError("channels must be 1 (grey) or 3 (RGB)")
        if subsampling not in ("444", "420"):
            raise ValueError("subsampling must be '444' or '420'")
        img = (np.frombuffer(bytes(pixels), dtype=np.uint8)
               .reshape(height, width, channels).astype(np.float64))
        if channels == 3:
            r, g, b = img[..., 0], img[..., 1], img[..., 2]
            planes = [0.299 * r + 0.587 * g + 0.114 * b,
                      -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                      0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
            samps = [(2, 2), (1, 1), (1, 1)] if subsampling == "420" \
                else [(1, 1), (1, 1), (1, 1)]
        else:
            planes = [img[..., 0]]
            samps = [(1, 1)]
        ql, qc = _scale_q(QL, quality), _scale_q(QC, quality)
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        mcux = -(-width // (8 * hmax))
        mcuy = -(-height // (8 * vmax))
        # per-component planes: chroma box-mean downsample, then pad to
        # the MCU grid with edge replication
        grids = []
        for ci, p in enumerate(planes):
            hs, vs = samps[ci]
            if (hs, vs) != (hmax, vmax):
                fy, fx = vmax // vs, hmax // hs
                ph = -(-p.shape[0] // fy) * fy
                pw = -(-p.shape[1] // fx) * fx
                tmp = np.empty((ph, pw), dtype=np.float64)
                tmp[:p.shape[0], :p.shape[1]] = p
                tmp[p.shape[0]:, :p.shape[1]] = p[-1:, :]
                tmp[:, p.shape[1]:] = tmp[:, p.shape[1] - 1:p.shape[1]]
                p = tmp.reshape(ph // fy, fy, pw // fx, fx).mean((1, 3))
            th, tw = mcuy * vs * 8, mcux * hs * 8
            pp = np.empty((th, tw), dtype=np.float64)
            ch, cw = min(p.shape[0], th), min(p.shape[1], tw)
            pp[:ch, :cw] = p[:ch, :cw]
            pp[ch:, :cw] = pp[ch - 1:ch, :cw]
            pp[:, cw:] = pp[:, cw - 1:cw]
            # batched forward DCT + quantization: every block in one
            # matmul, zigzagged with one fancy index (per-block
            # numpy-call overhead was the encoder's top soak cost)
            qt = (ql if ci == 0 else qc).astype(np.float64)
            blocks = (pp.reshape(mcuy * vs, 8, mcux * hs, 8)
                      .transpose(0, 2, 1, 3))
            coef = _C @ (blocks - 128.0) @ _C.T
            q = np.round(coef / qt).astype(np.int32)
            grids.append(q.reshape(mcuy * vs, mcux * hs, 64)[:, :, ZZ])
        return samps, ql, qc, mcux, mcuy, grids

    def _header_bytes(width, height, channels, samps, ql, qc,
                      sof_marker):
        """SOI through DHT — identical for baseline and progressive
        except the SOF marker byte."""
        out = bytearray(b"\xFF\xD8")                      # SOI
        out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00" \
            + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])          # APP0
        qzz_l = ql.flatten()[ZZ].astype(np.uint8).tobytes()
        qzz_c = qc.flatten()[ZZ].astype(np.uint8).tobytes()
        dqt = b"\x00" + qzz_l + (b"\x01" + qzz_c if channels == 3 else b"")
        out += b"\xFF\xDB" + struct.pack(">H", 2 + len(dqt)) + dqt
        sof = bytes([8]) + struct.pack(">HH", height, width) \
            + bytes([channels])
        for ci in range(channels):
            hs, vs = samps[ci]
            sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
        out += bytes([0xFF, sof_marker]) \
            + struct.pack(">H", 2 + len(sof)) + sof
        dht = b""
        specs = [(0x00, DC_L), (0x10, AC_L)]
        if channels == 3:
            specs += [(0x01, DC_C), (0x11, AC_C)]
        for tc, (bits, vals) in specs:
            dht += bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xFF\xC4" + struct.pack(">H", 2 + len(dht)) + dht
        return out

    def encode(pixels: bytes, width: int, height: int,
               channels: int = 1, quality: int = 85,
               subsampling: str = "444") -> bytes:
        """Baseline JFIF bytes for an 8-bit grey (1) or RGB (3) buffer,
        Annex K tables at libjpeg `quality` scaling. `subsampling`:
        "444" (no chroma downsample) or "420" (2×2 box-mean chroma,
        the web default — exercises the decoder's multi-block MCU and
        upsample paths)."""
        samps, ql, qc, mcux, mcuy, grids = _prep_zz(
            pixels, width, height, channels, quality, subsampling)
        ncomp = channels
        out = _header_bytes(width, height, channels, samps, ql, qc, 0xC0)
        sos = bytes([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        sos += bytes([0, 63, 0])
        out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

        zz_lists = [g.tolist() for g in grids]
        w = _Writer()
        dc_l, ac_l = _canonical(*DC_L), _canonical(*AC_L)
        dc_c, ac_c = _canonical(*DC_C), _canonical(*AC_C)
        preds = [0] * ncomp
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    hs, vs = samps[ci]
                    dcc = dc_l if ci == 0 else dc_c
                    acc = ac_l if ci == 0 else ac_c
                    for by in range(vs):
                        for bx in range(hs):
                            zz = zz_lists[ci][my * vs + by][mx * hs + bx]
                            preds[ci] = _encode_block(
                                w, zz, dcc, acc, preds[ci])
        w.flush()
        out += w.out
        out += b"\xFF\xD9"                                # EOI
        return bytes(out)

    def _sos_header(scan_comps, ss, se, ah, al):
        body = bytes([len(scan_comps)])
        for cid, tabs in scan_comps:
            body += bytes([cid, tabs])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xFF\xDA" + struct.pack(">H", 2 + len(body)) + body

    def _emit_dc_first(w, units, dc_tabs, al):
        """Interleaved (or single-component) DC first scan: code the
        diffs of the point-transformed DC values (arithmetic shift —
        T.81 G.1.2.1)."""
        preds = {}
        for ci, row in units:
            v = row[0] >> al
            diff = v - preds.get(ci, 0)
            preds[ci] = v
            t, b = _mag_bits(diff)
            code, ln = dc_tabs[ci][t]
            w.bits(code, ln)
            if t:
                w.bits(b, t)

    def _emit_dc_refine(w, units, al):
        for _ci, row in units:
            w.bits((row[0] >> al) & 1, 1)

    def _emit_ac_first(w, rows, ss, se, al, ac_codes):
        """Per-component AC first scan with magnitude point transform
        (toward zero) and per-block EOB (EOBRUN=1 — valid, unoptimized)."""
        for row in rows:
            band = []
            for k in range(ss, se + 1):
                v = row[k]
                a = abs(v) >> al
                band.append(a if v >= 0 else -a)
            run = 0
            last = len(band) - 1
            while last >= 0 and band[last] == 0:
                last -= 1
            for tv in band[:last + 1]:
                if tv == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]  # ZRL
                    w.bits(code, ln)
                    run -= 16
                t, b = _mag_bits(tv)
                code, ln = ac_codes[(run << 4) | t]
                w.bits(code, ln)
                w.bits(b, t)
                run = 0
            if last < len(band) - 1:
                code, ln = ac_codes[0x00]  # EOB (run of exactly 1 block)
                w.bits(code, ln)

    def _emit_ac_refine(w, rows, ss, se, al, ac_codes):
        """Per-component AC refinement scan — the encoder mirror of
        `_ac_refine` (T.81 G.1.2.3): newly-visible coefficients emit
        run/size-1 + sign, history-nonzero coefficients contribute
        buffered correction bits flushed after the next symbol."""
        for row in rows:
            vals = []          # point-transformed magnitudes + signs
            for k in range(ss, se + 1):
                v = row[k]
                vals.append((abs(v) >> al, v >= 0, abs(v) >> al & 1))
            # index of the last newly-visible coefficient: ZRLs beyond
            # it fold into the closing EOB (libjpeg's EOBx rule)
            last_new = -1
            for i, (mag, _pos, _bit) in enumerate(vals):
                if mag == 1:
                    last_new = i
            run = 0            # zero-HISTORY positions since last symbol
            pending = []       # correction bits awaiting a symbol
            for i, (mag, positive, bit) in enumerate(vals):
                if mag == 0:
                    run += 1
                    continue
                # ZRLs are emitted POSITIONALLY, at the walk point where
                # the decoder will replay them — each symbol's trailing
                # correction bits are exactly those of the
                # history-nonzero coefficients the decoder passes during
                # THAT symbol's advance (fuzzed 50k rounds against the
                # decoder; the deferred-flush variant desynced whenever
                # an old coefficient sat between two ZRL spans)
                if i <= last_new:
                    while run > 15:
                        code, ln = ac_codes[0xF0]  # ZRL
                        w.bits(code, ln)
                        for pb in pending:
                            w.bits(pb, 1)
                        pending = []
                        run -= 16
                if mag > 1:    # history-nonzero: buffer its correction
                    pending.append(bit)
                    continue
                code, ln = ac_codes[(run << 4) | 1]
                w.bits(code, ln)
                w.bits(1 if positive else 0, 1)
                for pb in pending:
                    w.bits(pb, 1)
                pending = []
                run = 0
            # tail: any remaining zero run or buffered corrections close
            # with EOB (EOBRUN=1) + the corrections — the decoder's
            # under-EOB tail walk consumes exactly these. Emitting
            # nothing here when the band has content after the last new
            # coefficient (or none at all) would desync the stream.
            if run > 0 or pending:
                code, ln = ac_codes[0x00]  # EOB, EOBRUN = 1
                w.bits(code, ln)
                for pb in pending:
                    w.bits(pb, 1)

    def encode_progressive(pixels: bytes, width: int, height: int,
                           channels: int = 1, quality: int = 85,
                           subsampling: str = "444") -> bytes:
        """PROGRESSIVE (SOF2) JFIF bytes for the same inputs `encode`
        takes — identical DCT/quantization front half (`_prep_zz`), so
        the quantized coefficients are BYTE-IDENTICAL to the baseline
        encoding and both decode to exactly the same pixels (the
        cross-entropy-organization check the tests pin). Scan script
        exercises every progressive decode path: interleaved DC first
        with successive approximation (Al=1), DC refinement, then per
        component AC 1–63 first (Al=1) and AC refinement — spectral
        selection AND successive approximation, the scan shapes real
        encoders emit."""
        samps, ql, qc, mcux, mcuy, grids = _prep_zz(
            pixels, width, height, channels, quality, subsampling)
        ncomp = channels
        out = _header_bytes(width, height, channels, samps, ql, qc, 0xC2)
        dc_l, ac_l = _canonical(*DC_L), _canonical(*AC_L)
        dc_c, ac_c = _canonical(*DC_C), _canonical(*AC_C)
        dc_tabs = {ci: (dc_l if ci == 0 else dc_c)
                   for ci in range(ncomp)}

        # DC units in interleaved MCU order (single component: its own
        # raster — same thing when ncomp == 1)
        units = []
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    hs, vs = samps[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            units.append(
                                (ci, grids[ci][my * vs + by,
                                               mx * hs + bx]))
        # scan 1: DC first, Al=1
        out += _sos_header([(ci + 1, 0x00 if ci == 0 else 0x10)
                            for ci in range(ncomp)], 0, 0, 0, 1)
        w = _Writer()
        _emit_dc_first(w, units, dc_tabs, 1)
        w.flush()
        out += w.out
        # scan 2: DC refinement, Ah=1 Al=0
        out += _sos_header([(ci + 1, 0x00) for ci in range(ncomp)],
                           0, 0, 1, 0)
        w = _Writer()
        _emit_dc_refine(w, units, 0)
        w.flush()
        out += w.out
        # per component: AC first (Al=1) then AC refinement (Ah=1 Al=0)
        # over the NON-INTERLEAVED block grid (T.81 A.2.2)
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        for ci in range(ncomp):
            hs, vs = samps[ci]
            comp_w = -(-(width * hs) // hmax)
            comp_h = -(-(height * vs) // vmax)
            cw = -(-comp_w // 8)
            ch = -(-comp_h // 8)
            rows = [grids[ci][by, bx].tolist()
                    for by in range(ch) for bx in range(cw)]
            atab = ac_l if ci == 0 else ac_c
            at_id = 0x00 if ci == 0 else 0x01
            out += _sos_header([(ci + 1, at_id)], 1, 63, 0, 1)
            w = _Writer()
            _emit_ac_first(w, rows, 1, 63, 1, atab)
            w.flush()
            out += w.out
            out += _sos_header([(ci + 1, at_id)], 1, 63, 1, 0)
            w = _Writer()
            _emit_ac_refine(w, rows, 1, 63, 0, atab)
            w.flush()
            out += w.out
        out += b"\xFF\xD9"                                # EOI
        return bytes(out)

    class _Reader:
        """Entropy-segment bit reader: unstuffs FF00, stops at markers.

        Buffered: bytes accumulate into one int so `bits(t)` is a single
        shift+mask instead of t per-bit calls — the Huffman walk is the
        irreducible scalar loop of the decoder, and per-bit Python call
        overhead was its top cost. Bytes are still fetched strictly on
        demand, so marker/truncation detection fires at exactly the
        same bit position as the per-bit reader did."""

        def __init__(self, data, pos):
            self.d = data
            self.pos = pos
            self.acc = 0
            self.n = 0

        def _fill(self):
            if self.pos >= len(self.d):
                raise ValueError("truncated entropy data")
            byte = self.d[self.pos]
            if byte == 0xFF:
                if self.pos + 1 >= len(self.d):
                    # bare 0xFF as the final byte: truncated, not a
                    # marker — must be the documented ValueError, not
                    # an IndexError
                    raise ValueError("truncated entropy data")
                nxt = self.d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise ValueError("marker inside entropy data")
            else:
                self.pos += 1
            self.acc = ((self.acc & ((1 << self.n) - 1)) << 8) | byte
            self.n += 8

        def bit(self):
            if self.n == 0:
                self._fill()
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, t):
            while self.n < t:
                self._fill()
            self.n -= t
            return (self.acc >> self.n) & ((1 << t) - 1)

        def huff(self, table):
            code, ln = 0, 0
            get = table.get
            while ln < 16:
                if self.n == 0:
                    self._fill()
                self.n -= 1
                code = (code << 1) | ((self.acc >> self.n) & 1)
                ln += 1
                sym = get((ln, code))
                if sym is not None:
                    return sym
            raise ValueError("invalid Huffman code")

        def sync_restart(self):
            """Align to byte boundary and consume an RSTn marker."""
            self.n = 0
            if (self.pos + 1 < len(self.d) and self.d[self.pos] == 0xFF
                    and 0xD0 <= self.d[self.pos + 1] <= 0xD7):
                self.pos += 2
            else:
                raise ValueError("expected restart marker")

    def _extend(v, t):
        return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v

    def decode(payload: bytes) -> tuple[int, int, int, bytes]:
        """(width, height, channels, pixel bytes) for a Huffman 8-bit
        JPEG — BASELINE sequential (SOF0) or PROGRESSIVE (SOF2, full
        spectral selection + successive approximation); grey stays
        grey, color comes back as RGB. Arithmetic/hierarchical/12-bit
        raise NotImplementedError (honest gate — they need a codec
        lib)."""
        d = payload
        if d[:2] != b"\xFF\xD8":
            raise ValueError("not a JPEG payload")
        qtabs: dict[int, "np.ndarray"] = {}
        htabs: dict[tuple[int, int], dict] = {}
        comps = None
        width = height = 0
        restart = 0
        progressive = False
        store = None  # progressive: comp_id -> (bh, bw, 64) zigzag coeffs
        pos = 2
        while pos < len(d):
            if d[pos] != 0xFF:
                raise ValueError("bad marker segment")
            # spec-legal 0xFF fill bytes may pad before a marker
            # (B.1.1.2): the marker code is the first non-0xFF byte
            while pos + 1 < len(d) and d[pos + 1] == 0xFF:
                pos += 1
            marker = d[pos + 1]
            if marker == 0xD9:  # EOI
                if progressive and store is not None:
                    return _prog_finalize(width, height, comps, qtabs,
                                          store)
                break
            if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                          0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    f"JPEG SOF marker 0x{marker:02X} (non-baseline "
                    "coding) needs a codec library")
            (seglen,) = struct.unpack_from(">H", d, pos + 2)
            body = d[pos + 4:pos + 2 + seglen]
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0x0F
                    i += 1
                    if pq:
                        raise NotImplementedError(
                            "16-bit quantization tables need a codec "
                            "library")
                    tab = np.zeros(64, dtype=np.int32)
                    tab[ZZ] = np.frombuffer(body[i:i + 64], dtype=np.uint8)
                    qtabs[tq] = tab.reshape(8, 8)
                    i += 64
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                progressive = marker == 0xC2
                if body[0] != 8:
                    raise NotImplementedError(
                        "only 8-bit precision supported")
                height, width = struct.unpack_from(">HH", body, 1)
                ncomp = body[5]
                comps = []
                for ci in range(ncomp):
                    cid, hv, tq = body[6 + ci * 3:9 + ci * 3]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                                  "tq": tq})
            elif marker == 0xC4:  # DHT
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 0x0F
                    bits = list(body[i + 1:i + 17])
                    nval = sum(bits)
                    vals = list(body[i + 17:i + 17 + nval])
                    htabs[(tc, th)] = _decode_map(bits, vals)
                    i += 17 + nval
            elif marker == 0xDD:  # DRI
                (restart,) = struct.unpack_from(">H", body, 0)
            elif marker == 0xDA:  # SOS
                ns = body[0]
                scan = []
                for si in range(ns):
                    cs, tt = body[1 + si * 2:3 + si * 2]
                    comp = next(c for c in comps if c["id"] == cs)
                    scan.append((comp, tt >> 4, tt & 0x0F))
                data_pos = pos + 2 + seglen
                if not progressive:
                    return _decode_scan(d, data_pos, width, height,
                                        comps, scan, qtabs, htabs,
                                        restart)
                ss, se = body[1 + ns * 2], body[2 + ns * 2]
                ahal = body[3 + ns * 2]
                if store is None:
                    store = _prog_store(width, height, comps)
                end_pos = _prog_scan(d, data_pos, width, height, comps,
                                     scan, ss, se, ahal >> 4,
                                     ahal & 0x0F, htabs, restart, store)
                pos = end_pos
                continue
            pos += 2 + seglen
        if progressive and store is None:
            raise ValueError("JPEG has no SOS scan")
        raise ValueError("JPEG has no SOS scan"
                         if not progressive else
                         "progressive JPEG missing EOI")

    def _planes_to_pixels(planes, comps, width, height, hmax, vmax):
        """Shared reconstruction tail (upsample, crop, YCbCr→RGB,
        clip/round) for BOTH entropy paths — one copy, so the pinned
        progressive==baseline bitwise-equality cannot drift."""
        full = []
        for c in comps:
            p = planes[c["id"]]
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
            full.append(p[:height, :width])
        if len(full) == 1:
            out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
            return width, height, 1, out.tobytes()
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        rgb = np.stack([y + 1.402 * cr,
                        y - 0.344136 * cb - 0.714136 * cr,
                        y + 1.772 * cb], axis=-1)
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return width, height, 3, out.tobytes()

    # ---- progressive (SOF2) machinery: ITU T.81 Annex G -----------------
    # Coefficients accumulate scan by scan in per-component padded block
    # grids (zigzag order); reconstruction happens once at EOI via the
    # same batched dequant+IDCT+scatter the baseline path uses.

    def _prog_grid(width, height, comps):
        """(hmax, vmax, mcux, mcuy) MCU geometry shared with baseline."""
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        return (hmax, vmax, -(-width // (8 * hmax)),
                -(-height // (8 * vmax)))

    def _prog_store(width, height, comps):
        """comp_id -> int32 (block_rows, block_cols, 64) zigzag coeffs,
        padded to the interleaved MCU grid (interleaved DC scans cover
        the padding blocks; non-interleaved scans cover the top-left
        ceil(x_i/8) × ceil(y_i/8) sub-grid per T.81 A.1.1/A.2.2)."""
        _, _, mcux, mcuy = _prog_grid(width, height, comps)
        return {c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                                  dtype=np.int32)
                for c in comps}

    def _nonint_dims(width, height, comps, comp):
        """Non-interleaved block grid: ceil(ceil(dim·f/fmax)/8)
        (T.81 A.1.1 component dims, A.2.2 data-unit counts)."""
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        comp_w = -(-(width * comp["h"]) // hmax)
        comp_h = -(-(height * comp["v"]) // vmax)
        return -(-comp_w // 8), -(-comp_h // 8)

    def _ac_first(r, row, ss, se, al, atab, eobrun):
        """AC first scan (Ah=0) for one block's band; returns the
        updated EOBRUN (count of FURTHER all-zero-band blocks)."""
        if eobrun > 0:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = r.huff(atab)
            rr, s = rs >> 4, rs & 0x0F
            if s == 0:
                if rr < 15:
                    eobrun = (1 << rr) - 1
                    if rr:
                        eobrun += r.bits(rr)
                    return eobrun
                k += 16  # ZRL
                continue
            k += rr
            if k > se:
                raise ValueError("AC index overflow")
            row[k] = _extend(r.bits(s), s) << al
            k += 1
        return 0

    def _ac_refine(r, row, ss, se, al, atab, eobrun):
        """AC refinement scan (Ah=Al+1) for one block's band — the
        T.81 G.1.2.3 correction-bit walk; returns updated EOBRUN."""
        p1 = 1 << al
        m1 = -(1 << al)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = r.huff(atab)
                rr, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if rr < 15:
                        eobrun = 1 << rr
                        if rr:
                            eobrun += r.bits(rr)
                        break  # tail refinement under the EOB below
                    # ZRL: 16 zero-history positions consumed by the walk
                else:
                    if s != 1:
                        raise ValueError("bad refinement magnitude")
                    val = p1 if r.bit() else m1
                while k <= se:
                    if row[k] != 0:
                        if r.bit() and (row[k] & p1) == 0:
                            row[k] += p1 if row[k] > 0 else m1
                    else:
                        if rr == 0:
                            break
                        rr -= 1
                    k += 1
                if val and k <= se:
                    row[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if row[k] != 0:
                    if r.bit() and (row[k] & p1) == 0:
                        row[k] += p1 if row[k] > 0 else m1
                k += 1
            eobrun -= 1
        return eobrun

    def _prog_scan(d, pos, width, height, comps, scan, ss, se, ah, al,
                   htabs, restart, store):
        """Decode ONE progressive scan into the coefficient store;
        returns the byte offset of the next marker."""
        _, _, mcux, mcuy = _prog_grid(width, height, comps)
        r = _Reader(d, pos)
        if ss == 0:
            if se != 0:
                raise ValueError("progressive DC scan must have Se=0")
            # DC scan: interleaved over MCUs when ns>1, else the
            # component's own block raster (MCU = 1 block)
            preds = {c["id"]: 0 for c, _, _ in scan}
            if len(scan) > 1:
                units = []
                for my in range(mcuy):
                    for mx in range(mcux):
                        for comp, dct, _act in scan:
                            for by in range(comp["v"]):
                                for bx in range(comp["h"]):
                                    units.append((comp, dct,
                                                  my * comp["v"] + by,
                                                  mx * comp["h"] + bx))
                per_restart = sum(c["v"] * c["h"] for c, _, _ in scan)
            else:
                comp, dct, _act = scan[0]
                cw, ch = _nonint_dims(width, height, comps, comp)
                units = [(comp, dct, by, bx)
                         for by in range(ch) for bx in range(cw)]
                per_restart = 1
            n_mcu = 0
            for i, (comp, dct, by, bx) in enumerate(units):
                if (restart and i and i % (restart * per_restart) == 0):
                    r.sync_restart()
                    preds = {c["id"]: 0 for c, _, _ in scan}
                row = store[comp["id"]][by, bx]
                if ah == 0:
                    t = r.huff(htabs[(0, dct)])
                    preds[comp["id"]] += _extend(r.bits(t), t)
                    row[0] = preds[comp["id"]] << al
                else:
                    if r.bit():
                        row[0] |= 1 << al
                n_mcu += 1
        else:
            if len(scan) != 1:
                raise ValueError("progressive AC scan must be "
                                 "non-interleaved")
            comp, _dct, act = scan[0]
            atab = htabs[(1, act)]
            cw, ch = _nonint_dims(width, height, comps, comp)
            grid = store[comp["id"]]
            # per-coefficient walks touch up to 63 positions per block;
            # plain-int lists are ~5x faster than numpy scalar access
            # in that loop — convert once per scan, write back after
            gl = grid.tolist()
            eobrun = 0
            n_blk = 0
            for by in range(ch):
                for bx in range(cw):
                    if restart and n_blk and n_blk % restart == 0:
                        r.sync_restart()
                        eobrun = 0
                    n_blk += 1
                    row = gl[by][bx]
                    if ah == 0:
                        eobrun = _ac_first(r, row, ss, se, al, atab,
                                           eobrun)
                    else:
                        eobrun = _ac_refine(r, row, ss, se, al, atab,
                                            eobrun)
            grid[:] = np.asarray(gl, dtype=np.int32)
        # advance to the next marker (skip stuffed FF00, RSTn, and
        # spec-legal 0xFF fill padding — 0xFF 0xFF is padding, the
        # marker code is the first non-0xFF byte after the run)
        p = r.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and d[p + 1] != 0x00 and d[p + 1] != 0xFF \
                    and not (0xD0 <= d[p + 1] <= 0xD7):
                return p
            p += 1
        raise ValueError("progressive scan ran past end of payload")

    def _prog_finalize(width, height, comps, qtabs, store):
        """Dequantize + batched IDCT + scatter the accumulated
        coefficient grids, then the shared upsample/color tail —
        identical math to the baseline path's phase 2."""
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        planes = {}
        for comp in comps:
            grid = store[comp["id"]]
            bh, bw, _ = grid.shape
            zz = grid.reshape(-1, 64)
            qt_zz = qtabs[comp["tq"]].flatten()[ZZ]
            blk = np.zeros((zz.shape[0], 64), dtype=np.float64)
            blk[:, ZZ] = zz * qt_zz[None, :]
            px = _C.T @ blk.reshape(-1, 8, 8) @ _C + 128.0
            planes[comp["id"]] = (px.reshape(bh, bw, 8, 8)
                                  .transpose(0, 2, 1, 3)
                                  .reshape(bh * 8, bw * 8))
        return _planes_to_pixels(planes, comps, width, height,
                                 hmax, vmax)

    def _decode_scan(d, pos, width, height, comps, scan, qtabs, htabs,
                     restart):
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mcux = -(-width // (8 * hmax))
        mcuy = -(-height // (8 * vmax))
        planes = {}
        for c in comps:
            planes[c["id"]] = np.zeros(
                (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        r = _Reader(d, pos)
        preds = {c["id"]: 0 for c in comps}
        # PHASE 1 (scalar, irreducible): entropy-decode every block's
        # zigzag coefficients into one sparse int matrix. Only nonzero
        # coefficients are written; the dequant/IDCT/scatter that used
        # to run per block (three small-numpy calls each) moves to one
        # batched pass per component below.
        blocks_per_mcu = sum(c["v"] * c["h"] for c, _, _ in scan)
        total_mcu = mcuy * mcux
        coeffs = np.zeros((total_mcu * blocks_per_mcu, 64),
                          dtype=np.int32)
        bi = 0
        n_mcu = 0
        for _my in range(mcuy):
            for _mx in range(mcux):
                if restart and n_mcu and n_mcu % restart == 0:
                    r.sync_restart()
                    preds = {c["id"]: 0 for c in comps}
                n_mcu += 1
                for comp, dct, act in scan:
                    dtab = htabs[(0, dct)]
                    atab = htabs[(1, act)]
                    cid = comp["id"]
                    for _blk in range(comp["v"] * comp["h"]):
                        t = r.huff(dtab)
                        diff = _extend(r.bits(t), t)
                        preds[cid] += diff
                        row = coeffs[bi]
                        row[0] = preds[cid]
                        i = 1
                        while i < 64:
                            rs = r.huff(atab)
                            rrrr, ssss = rs >> 4, rs & 0x0F
                            if ssss == 0:
                                if rrrr == 15:
                                    i += 16  # ZRL
                                    continue
                                break        # EOB
                            i += rrrr
                            if i > 63:
                                raise ValueError("AC index overflow")
                            row[i] = _extend(r.bits(ssss), ssss)
                            i += 1
                        bi += 1
        # PHASE 2 (batched): per component — dequantize all blocks with
        # one fancy index, inverse-DCT them in one broadcast matmul,
        # and scatter into the plane with a reshape/transpose (exact
        # inverse of the encoder's block extraction), no per-block
        # numpy calls
        coeffs3 = coeffs.reshape(total_mcu, blocks_per_mcu, 64)
        off = 0
        for comp, dct, act in scan:
            nb = comp["v"] * comp["h"]
            zz = coeffs3[:, off:off + nb, :].reshape(-1, 64)
            off += nb
            qt_zz = qtabs[comp["tq"]].flatten()[ZZ]
            blk = np.zeros((zz.shape[0], 64), dtype=np.float64)
            blk[:, ZZ] = zz * qt_zz[None, :]
            px = _C.T @ blk.reshape(-1, 8, 8) @ _C + 128.0
            planes[comp["id"]] = (
                px.reshape(mcuy, mcux, comp["v"], comp["h"], 8, 8)
                .transpose(0, 2, 4, 1, 3, 5)
                .reshape(mcuy * comp["v"] * 8, mcux * comp["h"] * 8))
        return _planes_to_pixels(planes, comps, width, height,
                                 hmax, vmax)

    return encode, decode, encode_progressive


encode_jpeg, decode_jpeg, encode_jpeg_progressive = _jpeg_codec()
