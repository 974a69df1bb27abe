"""JPEG codec in numpy + stdlib — no PIL/libjpeg.

Decoder: sequential baseline (SOF0/1) AND progressive (SOF2, r7 —
spectral selection, successive approximation, EOB runs, correction
bits per T.81 G.2), 8-bit, Huffman entropy coding, grayscale / 4:4:4 /
4:2:0 (and any h,v ≤ 2 sampling), 8- and 16-bit quantization tables,
restart markers, byte stuffing. Scans accumulate into per-component
coefficient arrays; one vectorized dequant + batched-IDCT pass
reconstructs at EOI. Also decodes predictive LOSSLESS JPEG (SOF3, r8 —
T.81 Annex H: all 7 predictors, point transform, mod-2^16 difference
arithmetic, 1×1 sampling — at ANY T.81 precision 2-16 AND with
restart markers since r13) and 12-BIT DCT, both extended
sequential AND progressive (r8 — level shift 2048, uint16 output
0..4095; the progressive encoder twin takes ``precision=12`` and the
tests pin decode(progressive-12) == decode(sequential-12) exactly).
Encoders: one sequential DCT encoder, a progressive and a lossless
twin, all over one entropy coder, one marker writer and one transform
set. ``encode_jpeg`` is 4:4:4/4:2:0/grayscale baseline with the
Annex K example quant tables (IJG quality scaling) and Annex K typical
Huffman tables. ``encode_jpeg_12bit`` is the same sequential encoder
fed 12-bit samples: level shift 2048, 16-bit DQT entries, a flat
16-category DC table (12-bit DC diffs exceed Annex K's 11 categories),
a flat 256-symbol AC table and the SOF1 marker. The progressive
encoder twin (libjpeg-like scan script) quantizes bit-identically to
the sequential one — the tests pin decode(progressive) ==
decode(baseline) exactly. The lossless encoder twin's round-trip is
pinned EXACT for every predictor across the full 2-16-bit precision
range (r13; ≤8-bit keeps the Annex K DC table byte-identically, wider
precisions switch to a flat 17-category table because their diffs
reach SSSS 16). tests/test_jpeg.py also pins every encoder's output
bytes over a fixed input matrix.

Arithmetic coding, differential modes, DCT precisions other than 8/12,
and the one lossless corner without an encoder twin to test against
(subsampled components) raise a named
``NotImplementedError`` — the same honesty contract as the other
codecs in ``operators/multimodal.py``.

Worker portability: one factory, ``_build_jpeg_codec``, returns the
public ``decode_jpeg`` and the four encoders as closures over its
shared helpers. Their qualnames are not importable, so cloudpickle
ships them and every helper they call BY VALUE, and ``mapInPandas``
stages can call them on workers that cannot import this package — see
tests/test_worker_portability.py and the memory of the r6 PNG
regression.

References: ITU-T T.81 (the JPEG spec, public), IJG quality scaling
(public libjpeg documentation). Implementation is original.
"""

from __future__ import annotations

#: 8×8 zigzag order (T.81 Figure 5) as a flat index list.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 example quantization tables (luminance, chrominance).
QUANT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
QUANT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 typical Huffman tables: (bits[1..16], values).
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

JPEG_MAGIC = b"\xff\xd8\xff"


def _build_jpeg_codec():
    """The JPEG decoder and the four encoders as by-value closures over
    one set of T.81 helpers (see the module doc for why they must not
    be module-level functions): ``(decode_jpeg, encode_jpeg,
    encode_jpeg_progressive, encode_jpeg_12bit, encode_jpeg_lossless)``."""
    import struct

    import numpy as np

    zigzag = list(ZIGZAG)
    zz_idx = np.array(zigzag)
    quant_base = (list(QUANT_LUMA), list(QUANT_CHROMA))
    # Annex K (DC, AC) tables per table id: 0 luminance, 1 chrominance
    annex_k = {
        0: ((list(DC_LUMA_BITS), list(DC_LUMA_VALS)),
            (list(AC_LUMA_BITS), list(AC_LUMA_VALS))),
        1: ((list(DC_CHROMA_BITS), list(DC_CHROMA_VALS)),
            (list(AC_CHROMA_BITS), list(AC_CHROMA_VALS))),
    }
    # flat canonical (bits, vals) tables where Annex K falls short:
    # every run/size byte (128 len-8 + 128 len-9 codes, so EOBn run
    # symbols are codable); 12-bit DC categories 0-15 (15 len-4 + 1
    # len-5, never the all-ones len-4 code); lossless SSSS 0-16 above
    # 8 bits (seventeen 5-bit codes)
    flat_ac = ([0] * 7 + [128, 128] + [0] * 7, list(range(256)))
    flat_dc12 = ([0, 0, 0, 15, 1] + [0] * 11, list(range(16)))
    flat_dc17 = ([0, 0, 0, 0, 17] + [0] * 11, list(range(17)))

    # orthonormal DCT-II basis: X = M.T @ x @ M, inverse x = M @ X @ M.T
    k = np.arange(8)
    alpha = np.full(8, np.sqrt(2.0 / 8.0))
    alpha[0] = np.sqrt(1.0 / 8.0)
    dct_m = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16) * alpha

    # ---- shared T.81 pieces ---------------------------------------------
    def huffman_codes(bits, vals):
        """Canonical codes (T.81 C.2): ``[(value, (length, code))]``."""
        pairs, code, i = [], 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                pairs.append((vals[i], (ln, code)))
                code += 1
                i += 1
            code <<= 1
        return pairs

    def comp_blocks(h, w, ch, cv, hmax, vmax):
        """(rows, cols) of a component's own block grid — the MCUs of a
        non-interleaved scan (T.81 A.2.2)."""
        comp_h, comp_w = -(-h * cv // vmax), -(-w * ch // hmax)
        return -(-comp_h // 8), -(-comp_w // 8)

    def predict(p, y, x, sy, sx, default, sel):
        """Lossless prediction of sample (y, x) from the reconstructed
        samples ``p`` (T.81 H.1.2.1): the default 2^(P-Pt-1) where the
        scan or restart interval began at (sy, sx), Ra along the rest of
        that line, Rb down column 0, else predictor ``sel``."""
        if y == sy:
            return default if x == sx else p[y][x - 1]
        if x == 0:
            return p[y - 1][0]
        ra, rb, rc = p[y][x - 1], p[y - 1][x], p[y - 1][x - 1]
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
        return (ra + rb) >> 1

    def bit_writer(out):
        """Entropy-coded segment writer appending to ``out`` (T.81
        F.1.2.3): MSB-first bits, 0x00 stuffed after every 0xFF byte,
        1-padded flush, raw (never stuffed) RSTn markers."""
        bitbuf = nbits = n_rst = 0

        def put(ln, code):
            nonlocal bitbuf, nbits
            bitbuf = (bitbuf << ln) | code
            nbits += ln
            while nbits >= 8:
                nbits -= 8
                byte = (bitbuf >> nbits) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
            bitbuf &= (1 << nbits) - 1  # keep only the bits not yet written

        def put_coded(codes, run, v):
            """Symbol ``run << 4 | SSSS`` for v's magnitude category,
            then v's SSSS extend bits (T.81 F.1.2.1)."""
            s = abs(v).bit_length()
            put(*codes[(run << 4) | s])
            if s:
                put(s, v if v >= 0 else v + (1 << s) - 1)

        def flush():
            if nbits:
                put(8 - nbits, (1 << (8 - nbits)) - 1)

        def restart():
            nonlocal n_rst
            flush()
            out.extend((0xFF, 0xD0 + n_rst))
            n_rst = (n_rst + 1) % 8

        return put, put_coded, flush, restart

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dqt(tq, qnat, wide):
        """DQT of a natural-order table, entries in zigzag order;
        16-bit (Pq=1) when ``wide``."""
        tab = [int(qnat[z]) for z in zigzag]
        if wide:
            return seg(0xDB, bytes([0x10 | tq]) + struct.pack(">64H", *tab))
        return seg(0xDB, bytes([tq, *tab]))

    def dht(tc, th, table):
        bits, vals = table
        return seg(0xC4, bytes([(tc << 4) | th, *bits, *vals]))

    def sof(marker, precision, h, w, comps):
        """SOFn; ``comps`` are (id, h_samp << 4 | v_samp, tq)."""
        return seg(
            marker,
            bytes([precision]) + struct.pack(">HH", h, w)
            + bytes([len(comps), *(b for c in comps for b in c)]),
        )

    def sos(comps, ss, se, ah, al):
        """SOS; ``comps`` are (id, dc table << 4 | ac table)."""
        return seg(
            0xDA,
            bytes([len(comps), *(b for c in comps for b in c), ss, se,
                   (ah << 4) | al]),
        )

    def dri(interval):
        return seg(0xDD, struct.pack(">H", interval))

    # ---- decoder -----------------------------------------------------------
    def decode_jpeg(data: bytes):
        if data[:3] != b"\xff\xd8\xff":
            raise ValueError("not a JPEG (bad SOI)")

        qt: dict = {}
        huff: dict = {}  # (class, id) -> (length, code) -> value
        frame = None
        progressive = False
        lossless = False
        loss_px: dict = {}  # component id -> [row][col] sample lists
        loss_pt = 0  # point transform Al of the lossless scan
        restart_interval = 0

        # --- entropy bit reader (stuffing stripped lazily) -------------
        bitpos = 0
        bytepos = 0

        def read_bit():
            nonlocal bitpos, bytepos
            b = data[bytepos]
            if b == 0xFF:
                nxt = data[bytepos + 1]
                if nxt not in (0x00,):  # marker: should not be read as bits
                    raise ValueError("hit marker inside entropy data")
            bit = (b >> (7 - bitpos)) & 1
            bitpos += 1
            if bitpos == 8:
                bitpos = 0
                bytepos += 1
                if b == 0xFF:  # skip stuffed 0x00
                    bytepos += 1
            return bit

        def decode_sym(table):
            ln, code = 0, 0
            while ln < 16:
                code = (code << 1) | read_bit()
                ln += 1
                if (ln, code) in table:
                    return table[(ln, code)]
            raise ValueError("bad Huffman code")

        def receive(s):
            v = 0
            for _ in range(s):
                v = (v << 1) | read_bit()
            return v

        def receive_extend(s):
            if s == 0:
                return 0
            v = receive(s)
            if v < (1 << (s - 1)):
                v -= (1 << s) - 1
            return v

        def sync_restart():
            nonlocal bitpos, bytepos
            if bitpos:
                bitpos = 0
                bytepos += 1
            # scan to the RSTn marker: the flush byte before it may have
            # been 0xFF (1-padded) and therefore stuffed as FF 00
            while bytepos + 1 < len(data):
                if data[bytepos] == 0xFF and 0xD0 <= data[bytepos + 1] <= 0xD7:
                    bytepos += 2
                    return
                bytepos += 1
            raise ValueError("restart marker expected, hit end of data")

        def next_marker():
            # after the last MCU of a scan: flush the partial byte, then
            # find the next true marker (skipping pad bytes / stray RSTs)
            nonlocal bitpos, bytepos
            if bitpos:
                bitpos = 0
                bytepos += 1
            p = bytepos
            while p + 1 < len(data):
                if data[p] == 0xFF and data[p + 1] != 0x00:
                    if 0xD0 <= data[p + 1] <= 0xD7:
                        p += 2
                        continue
                    return p
                p += 1
            raise ValueError("unterminated entropy data (no trailing marker)")

        # --- scan decoding into per-component coefficient arrays -------
        # (zigzag order; filled across one sequential scan or many
        # progressive scans, reconstructed once at the end)
        coefs: dict = {}
        geom: dict = {}

        def alloc_coefs():
            nonlocal geom
            comps = frame["comps"]
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-frame["w"] // (8 * hmax))
            mcuy = -(-frame["h"] // (8 * vmax))
            geom = {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy}
            for c in comps:
                coefs[c["id"]] = np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32
                )

        def decode_scan(scan_comps, ss, se, ah, al, start):
            """Decode one entropy-coded scan starting at byte ``start``;
            returns the position of the marker that ends it. Sequential
            scans are the ss==0/se==63/ah==0 interleaved case; the four
            progressive cases (T.81 G.2) dispatch on (ss==0, ah==0)."""
            nonlocal bitpos, bytepos
            bitpos, bytepos = 0, start
            by_id = {c["id"]: c for c in frame["comps"]}
            pred = {cs: 0 for cs, _, _ in scan_comps}
            eobrun = 0

            def dc_first(block, cs, tdc):
                s = decode_sym(huff[(0, tdc)])
                pred[cs] += receive_extend(s)
                block[0] = pred[cs] << al

            def dc_refine(block):
                if read_bit():
                    block[0] |= 1 << al

            def ac_first(block, tac):
                nonlocal eobrun
                if eobrun:
                    eobrun -= 1
                    return
                kk = ss
                while kk <= se:
                    rs = decode_sym(huff[(1, tac)])
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:
                            kk += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += receive(r)
                        return
                    kk += r
                    block[kk] = receive_extend(s) << al
                    kk += 1

            def ac_refine(block, tac):
                # T.81 G.2.2 successive-approximation AC refinement:
                # one new ±(1<<al) per nonzero symbol, correction bits
                # for every already-nonzero coefficient passed over.
                # eobrun counts blocks INCLUDING the one the EOBn symbol
                # lands in — that block still consumes its remaining
                # correction bits below before the run decrements.
                nonlocal eobrun
                p1, m1 = 1 << al, -1 << al
                kk = ss
                if eobrun == 0:
                    while kk <= se:
                        rs = decode_sym(huff[(1, tac)])
                        r, s = rs >> 4, rs & 0xF
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += receive(r)
                                break
                        else:
                            val = p1 if read_bit() else m1
                        while kk <= se:
                            if block[kk] != 0:
                                if read_bit() and (block[kk] & p1) == 0:
                                    block[kk] += p1 if block[kk] > 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            kk += 1
                        if val and kk <= se:
                            block[kk] = val
                        kk += 1
                if eobrun:
                    while kk <= se:
                        if block[kk] != 0:
                            if read_bit() and (block[kk] & p1) == 0:
                                block[kk] += p1 if block[kk] > 0 else m1
                        kk += 1
                    eobrun -= 1

            def sequential(block, cs, tdc, tac):
                dc_first(block, cs, tdc)
                kk = 1
                while kk < 64:
                    rs = decode_sym(huff[(1, tac)])
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:
                            kk += 16
                            continue
                        break  # EOB
                    kk += r
                    block[kk] = receive_extend(s)
                    kk += 1

            def on_restart():
                nonlocal eobrun
                sync_restart()
                for cs in pred:
                    pred[cs] = 0
                eobrun = 0

            interleaved = len(scan_comps) > 1
            if interleaved and progressive and ss != 0:
                raise ValueError("progressive AC scans must be single-component")
            n_unit = 0
            if interleaved:
                for my in range(geom["mcuy"]):
                    for mx in range(geom["mcux"]):
                        if (
                            restart_interval
                            and n_unit
                            and n_unit % restart_interval == 0
                        ):
                            on_restart()
                        n_unit += 1
                        for cs, tdc, tac in scan_comps:
                            comp = by_id[cs]
                            arr = coefs[cs]
                            for by in range(comp["v"]):
                                for bx in range(comp["h"]):
                                    block = arr[
                                        my * comp["v"] + by,
                                        mx * comp["h"] + bx,
                                    ]
                                    if not progressive:
                                        sequential(block, cs, tdc, tac)
                                    elif ah == 0:
                                        dc_first(block, cs, tdc)
                                    else:
                                        dc_refine(block)
            else:
                (cs, tdc, tac) = scan_comps[0]
                comp = by_id[cs]
                arr = coefs[cs]
                # non-interleaved: MCU = one block over the component's
                # OWN (unpadded-to-MCU) block grid, T.81 A.2.2
                bh, bw = comp_blocks(
                    frame["h"], frame["w"], comp["h"], comp["v"],
                    geom["hmax"], geom["vmax"],
                )
                for byy in range(bh):
                    for bxx in range(bw):
                        if (
                            restart_interval
                            and n_unit
                            and n_unit % restart_interval == 0
                        ):
                            on_restart()
                        n_unit += 1
                        block = arr[byy, bxx]
                        if not progressive:
                            sequential(block, cs, tdc, tac)
                        elif ss == 0:
                            if ah == 0:
                                dc_first(block, cs, tdc)
                            else:
                                dc_refine(block)
                        elif ah == 0:
                            ac_first(block, tac)
                        else:
                            ac_refine(block, tac)
            return next_marker()

        def decode_lossless_scan(scan_comps, pred_sel, pt, start):
            """Predictive lossless scan (T.81 Annex H, SOF3): each
            sample is a Huffman-coded difference (DC-table SSSS
            category + extend bits; SSSS==16 means diff=32768) from a
            neighbor predictor. Edge rules per H.1.2.1: the scan's
            first sample predicts 2^(P-Pt-1), the rest of the first
            line predicts Ra, the first sample of later lines predicts
            Rb. Arithmetic is mod 2^16.

            Restart markers (r13, H.2.4): one MCU = one sample
            position across the scan's components, so every
            ``restart_interval`` positions the bit stream realigns at
            an RSTn and prediction RESETS as at scan start — the
            interval's first sample takes the default and the rest of
            that sample line falls back to the 1-D Ra predictor (the
            libjpeg reading of H.1.2.1's "at the beginning of each
            restart interval"); later lines resume the selected
            predictor against the sample buffer."""
            nonlocal bitpos, bytepos, loss_pt
            if not 1 <= pred_sel <= 7:
                raise ValueError(f"bad lossless predictor {pred_sel}")
            loss_pt = pt
            bitpos, bytepos = 0, start
            h, w = frame["h"], frame["w"]
            default = 1 << (frame["prec"] - pt - 1)
            n_mcu = 0
            sy, sx = 0, 0  # position where the current interval began
            for y in range(h):
                for x in range(w):
                    if (
                        restart_interval
                        and n_mcu
                        and n_mcu % restart_interval == 0
                    ):
                        sync_restart()
                        sy, sx = y, x
                    n_mcu += 1
                    for cs, tdc, _ in scan_comps:
                        s = decode_sym(huff[(0, tdc)])
                        diff = 32768 if s == 16 else receive_extend(s)
                        arr = loss_px[cs]
                        px = predict(arr, y, x, sy, sx, default, pred_sel)
                        arr[y][x] = (px + diff) & 0xFFFF
            return next_marker()

        # --- marker loop: execute every scan up to EOI ------------------
        pos = 2
        saw_scan = False
        while pos + 1 < len(data):
            if data[pos] != 0xFF:
                raise ValueError(f"marker expected at {pos}")
            # T.81 B.1.1.2: any run of 0xFF fill bytes may precede the
            # marker code — skip fills, take the first non-FF byte
            while pos + 1 < len(data) and data[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= len(data):
                raise ValueError("truncated JPEG (fill bytes at end)")
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD8:
                continue
            if marker == 0xD9:
                break
            if pos + 2 > len(data):
                raise ValueError("truncated JPEG (no segment length)")
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            body = data[pos + 2 : pos + seglen]
            if marker == 0xDB:  # DQT
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0xF
                    p += 1
                    if pq:  # 16-bit table entries, big-endian
                        qt[tq] = np.array(
                            struct.unpack(">64H", body[p : p + 128]),
                            dtype=np.int32,
                        )
                        p += 128
                    else:
                        qt[tq] = np.array(
                            list(body[p : p + 64]), dtype=np.int32
                        )
                        p += 64
            elif marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0/1/2 DCT, SOF3 lossless
                if len(body) < 6 or len(body) < 6 + body[5] * 3:
                    raise ValueError("truncated SOF segment")
                prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
                lossless = marker == 0xC3
                # DCT processes: 8-bit baseline + 12-bit extended
                # sequential/progressive (r8). Lossless (r13): the full
                # T.81 precision range 2..16 — the mod-2^16 difference
                # arithmetic and the SSSS≤16 category space already
                # cover it, so only the guard/clip/dtype are
                # precision-aware (encoder twin pins every width).
                if lossless:
                    if not 2 <= prec <= 16:
                        raise NotImplementedError(
                            f"{prec}-bit lossless JPEG (T.81 allows 2-16)"
                        )
                elif prec not in (8, 12):
                    raise NotImplementedError(f"{prec}-bit JPEG")
                comps = []
                for c in range(nc):
                    cid, hv, tq = body[6 + c * 3 : 9 + c * 3]
                    comps.append(
                        {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                    )
                frame = {"h": h, "w": w, "comps": comps, "prec": prec}
                progressive = marker == 0xC2
                if lossless:
                    if any(c["h"] != 1 or c["v"] != 1 for c in comps):
                        raise NotImplementedError(
                            "lossless JPEG (SOF3) with subsampled components"
                        )
                    for c in comps:
                        loss_px[c["id"]] = [[0] * w for _ in range(h)]
                else:
                    alloc_coefs()
            elif marker in (0xC5, 0xC6, 0xC7):
                raise NotImplementedError(
                    f"JPEG SOF{marker - 0xC0} (differential)"
                )
            elif marker in (0xC9, 0xCA, 0xCB):
                raise NotImplementedError("arithmetic-coded JPEG")
            elif marker == 0xC4:  # DHT
                p = 0
                while p < len(body):
                    tc, th = body[p] >> 4, body[p] & 0xF
                    bits = list(body[p + 1 : p + 17])
                    nvals = sum(bits)
                    vals = list(body[p + 17 : p + 17 + nvals])
                    huff[(tc, th)] = {
                        lc: v for v, lc in huffman_codes(bits, vals)
                    }
                    p += 17 + nvals
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS
                if frame is None:
                    raise ValueError("SOS before SOF")
                ns = body[0]
                scan_comps = []
                for c in range(ns):
                    cs, tsel = body[1 + c * 2 : 3 + c * 2]
                    scan_comps.append((cs, tsel >> 4, tsel & 0xF))
                ss, se, a = body[1 + ns * 2 : 4 + ns * 2]
                if lossless:
                    pos = decode_lossless_scan(
                        scan_comps, ss, a & 0xF, pos + seglen
                    )
                else:
                    pos = decode_scan(
                        scan_comps, ss, se, a >> 4, a & 0xF, pos + seglen
                    )
                saw_scan = True
                continue
            # APPn/COM/DNL/etc.: skip
            pos += seglen
        if frame is None or not saw_scan:
            raise ValueError("JPEG missing SOF/SOS")

        if lossless:
            # predictive samples ARE the pixels (<< point transform);
            # no IDCT, no color transform — 3-component lossless is
            # stored as RGB by this module's encoder twin (T.81 defines
            # no colorspace for the lossless process). Clip range and
            # output dtype follow the sample precision (r13: full 2-16
            # range; ≤8 bits stays uint8 so the 8-bit contract is
            # byte-identical, wider returns uint16 like the DCT paths)
            lmaxv = (1 << frame["prec"]) - 1
            ldtype = np.uint8 if frame["prec"] <= 8 else np.uint16
            planes = [
                np.clip(
                    np.array(loss_px[c["id"]], dtype=np.int64) << loss_pt,
                    0,
                    lmaxv,
                ).astype(ldtype)
                for c in frame["comps"]
            ]
            if len(planes) == 1:
                return np.dstack([planes[0]] * 3)
            if len(planes) != 3:
                raise ValueError(f"{len(planes)}-component lossless JPEG")
            return np.dstack(planes)

        # --- reconstruction: dequant + batched IDCT + assemble ----------
        h, w, comps = frame["h"], frame["w"], frame["comps"]
        hmax, vmax = geom["hmax"], geom["vmax"]
        # level shift / clip range / output dtype follow the sample
        # precision (T.81 A.3.1: shift = 2^(P-1)); 12-bit returns uint16
        # with values 0..4095 — the downstream feature/dHash math is
        # scale-tolerant float
        center = float(1 << (frame["prec"] - 1))
        maxv = (1 << frame["prec"]) - 1
        out_dtype = np.uint8 if frame["prec"] == 8 else np.uint16
        full = []
        for comp in comps:
            arr = coefs[comp["id"]]
            bh, bw = arr.shape[:2]
            deq = arr.reshape(-1, 64).astype(np.float64) * qt[
                comp["tq"]
            ].astype(np.float64)
            nat = np.zeros_like(deq)
            nat[:, zigzag] = deq  # unzigzag into natural order
            blocks = nat.reshape(-1, 8, 8)
            px = (
                np.einsum("ij,njk,lk->nil", dct_m, blocks, dct_m) + center
            )
            plane = (
                px.reshape(bh, bw, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(bh * 8, bw * 8)
            )
            ry, rx = vmax // comp["v"], hmax // comp["h"]
            if ry > 1 or rx > 1:
                plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
            full.append(plane[:h, :w])
        if len(full) == 1:
            g = np.clip(full[0], 0, maxv).astype(out_dtype)
            return np.dstack([g, g, g])
        y, cb, cr = full[0], full[1] - center, full[2] - center
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        return np.clip(np.dstack([r, g, b]), 0, maxv).astype(out_dtype)

    # ---- DCT encoder front end ---------------------------------------
    def samples(arr, grayscale, precision=None):
        """float64 HxWx3 samples and the grayscale flag (a 2-D input is
        grayscale); with a ``precision``, out-of-range samples raise."""
        a = np.asarray(arr, dtype=np.float64)
        if a.ndim == 2:
            a, grayscale = a[:, :, None].repeat(3, axis=2), True
        if precision and (a.max() > (1 << precision) - 1 or a.min() < 0):
            raise ValueError(
                f"{precision}-bit samples must be in 0..{(1 << precision) - 1}"
            )
        return a, grayscale

    def quant_tables(quality, qmax):
        """IJG quality scaling of the Annex K tables: (luma, chroma) in
        natural order, clipped to 1..qmax."""
        q = max(1, min(100, quality))
        scale = 5000 // q if q < 50 else 200 - 2 * q
        return [
            np.clip((np.array(b, dtype=np.int64) * scale + 50) // 100, 1, qmax)
            for b in quant_base
        ]

    def half(p):
        """4:2:0 chroma: 2×2 means over the edge-padded plane."""
        p2 = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
        return (p2[0::2, 0::2] + p2[0::2, 1::2] + p2[1::2, 0::2] + p2[1::2, 1::2]) / 4.0

    def component_plan(a, grayscale, subsampling, center):
        """``([(plane, h_samp, v_samp, tq)], mcux, mcuy)``: YCbCr with
        chroma centred at ``center``, grayscale / 4:4:4 / 4:2:0, every
        plane edge-padded to whole MCUs."""
        if subsampling not in ("444", "420"):
            raise ValueError(f"subsampling must be 444 or 420, got {subsampling}")
        h, w, _ = a.shape
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        if grayscale:
            plan = [(y, 1, 1, 0)]
        else:
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
            if subsampling == "420":
                plan = [(y, 2, 2, 0), (half(cb), 1, 1, 1), (half(cr), 1, 1, 1)]
            else:
                plan = [(y, 1, 1, 0), (cb, 1, 1, 1), (cr, 1, 1, 1)]
        mcux = -(-w // (8 * max(p[1] for p in plan)))
        mcuy = -(-h // (8 * max(p[2] for p in plan)))
        padded = [
            (np.pad(p, ((0, mcuy * cv * 8 - p.shape[0]),
                        (0, mcux * ch * 8 - p.shape[1])), mode="edge"),
             ch, cv, tq)
            for p, ch, cv, tq in plan
        ]
        return padded, mcux, mcuy

    def quantize(plane, qnat, center):
        """Forward DCT + quantization of every block of ``plane``:
        ``[row][col]`` lists of 64 zigzag-ordered ints. The per-block
        ``M.T @ (block - center) @ M`` and ``np.round`` are deliberate:
        a batched einsum changes the float summation order and flips
        coefficients sitting exactly on a .5 rounding boundary, which
        breaks the tests' decode(progressive) == decode(sequential)
        exact equality."""
        nat_q = np.asarray(qnat, dtype=np.float64).reshape(8, 8)
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        qz = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                co = dct_m.T @ (block - center) @ dct_m
                qz[by, bx] = np.round(co / nat_q).reshape(64)
        return qz[:, :, zz_idx].tolist()

    def frame_header(marker, precision, h, w, plan, qnat, wide):
        """SOI, a DQT per quant table the plan uses, and the SOFn."""
        out = bytearray(b"\xff\xd8")
        for tq in sorted({tq for *_, tq in plan}):
            out += dqt(tq, qnat[tq], wide)
        return out + sof(marker, precision, h, w,
                         [(ci + 1, (ch << 4) | cv, tq)
                          for ci, (_, ch, cv, tq) in enumerate(plan)])

    def mcu_blocks(plan, coefs, mcux, mcuy):
        """Interleaved scan order (T.81 A.2.3): per MCU, the
        ``(component, block)`` pairs of each component's v×h blocks."""
        for my in range(mcuy):
            for mx in range(mcux):
                yield [
                    (ci, coefs[ci][my * cv + by][mx * ch + bx])
                    for ci, (_, ch, cv, _) in enumerate(plan)
                    for by in range(cv)
                    for bx in range(ch)
                ]

    def encode_block(zz, pred, dc_codes, ac_codes, put_coded):
        """One sequential block (T.81 F.1.2): the DC difference, AC
        run/size symbols with ZRLs, and EOB unless coefficient 63 is
        nonzero. Returns the block's DC, the next predictor."""
        put_coded(dc_codes, 0, zz[0] - pred)
        last = 63
        while last > 0 and zz[last] == 0:
            last -= 1
        run = 0
        for v in zz[1 : last + 1]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                put_coded(ac_codes, 15, 0)
                run -= 16
            put_coded(ac_codes, run, v)
            run = 0
        if last < 63:
            put_coded(ac_codes, 0, 0)
        return zz[0]

    def sequential(a, grayscale, quality, subsampling, restart_interval, precision):
        """Sequential DCT encode: 8-bit baseline (SOF0, Annex K tables
        per component class, 8-bit DQT) or 12-bit extended (SOF1,
        16-bit DQT, the flat DC/AC tables for every component)."""
        center = float(1 << (precision - 1))
        plan, mcux, mcuy = component_plan(a, grayscale, subsampling, center)
        wide = precision == 12
        qnat = quant_tables(quality, 65535 if wide else 255)
        tables = {0: (flat_dc12, flat_ac)} if wide else annex_k
        ths = [0 if wide else tq for *_, tq in plan]
        out = frame_header(0xC1 if wide else 0xC0, precision, *a.shape[:2],
                           plan, qnat, wide)
        for th in sorted(set(ths)):
            out += dht(0, th, tables[th][0]) + dht(1, th, tables[th][1])
        if restart_interval:
            out += dri(restart_interval)
        out += sos([(ci + 1, (th << 4) | th) for ci, th in enumerate(ths)],
                   0, 63, 0, 0)
        codes = {th: [dict(huffman_codes(*t)) for t in tables[th]] for th in set(ths)}
        coefs = [quantize(p, qnat[tq], center) for p, _, _, tq in plan]
        _, put_coded, flush, restart = bit_writer(out)
        preds = [0] * len(plan)
        for n_mcu, mcu in enumerate(mcu_blocks(plan, coefs, mcux, mcuy)):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                restart()
                preds = [0] * len(plan)
            for ci, zz in mcu:
                preds[ci] = encode_block(zz, preds[ci], *codes[ths[ci]], put_coded)
        flush()
        return bytes(out + b"\xff\xd9")

    # ---- the codecs ----------------------------------------------------
    def encode_jpeg(
        arr,
        quality: int = 85,
        subsampling: str = "444",
        restart_interval: int = 0,
        grayscale: bool = False,
    ) -> bytes:
        """Baseline (SOF0) encode: Annex K tables, IJG ``quality``,
        4:4:4 or 4:2:0 ``subsampling``, optional restart markers. A 2-D
        input is grayscale."""
        a, grayscale = samples(arr, grayscale)
        return sequential(a, grayscale, quality, subsampling, restart_interval, 8)

    def encode_jpeg_12bit(arr, quality: int = 95, grayscale: bool = False) -> bytes:
        """12-bit extended sequential (SOF1) encode of 0..4095 samples,
        grayscale or 4:4:4: the baseline encoder with the flat tables,
        whose quant tables scale past 255 into 16-bit DQT entries."""
        a, grayscale = samples(arr, grayscale, 12)
        return sequential(a, grayscale, quality, "444", 0, 12)

    def encode_jpeg_progressive(
        arr,
        quality: int = 85,
        subsampling: str = "444",
        grayscale: bool = False,
        precision: int = 8,
    ) -> bytes:
        """Progressive (SOF2) encode, 8- or 12-bit, the encode-side twin
        that makes the progressive decode path testable without libjpeg.

        The scan script mirrors the libjpeg default: an interleaved
        DC-first scan at Al=1, per-component AC-first scans with
        spectral selection (luma split 1-5 / 6-63), then
        successive-approximation refinement scans. ONE flat 256-symbol
        Huffman table serves every class and id, so the EOBn run
        symbols the Annex K tables lack are codable. Coefficients are
        quantized exactly as the sequential encoder does, so
        ``decode(progressive(img)) == decode(baseline(img))``."""
        if precision not in (8, 12):
            raise ValueError(f"precision must be 8 or 12, got {precision}")
        center = float(1 << (precision - 1))
        a, grayscale = samples(arr, grayscale, precision)
        h, w = a.shape[:2]
        plan, mcux, mcuy = component_plan(a, grayscale, subsampling, center)
        hmax = max(p[1] for p in plan)
        vmax = max(p[2] for p in plan)
        qnat = quant_tables(quality, 255)
        coefs = [quantize(p, qnat[tq], center) for p, _, _, tq in plan]
        codes = dict(huffman_codes(*flat_ac))
        out = frame_header(0xC2, precision, h, w, plan, qnat, False)
        for tc in (0, 1):
            for th in (0,) if grayscale else (0, 1):
                out += dht(tc, th, flat_ac)
        put, put_coded, flush, _ = bit_writer(out)

        def dc_scan(ah, al):
            preds = [0] * len(plan)
            for mcu in mcu_blocks(plan, coefs, mcux, mcuy):
                for ci, zz in mcu:
                    dc = zz[0] >> al
                    if ah:
                        put(1, dc & 1)
                    else:
                        put_coded(codes, 0, dc - preds[ci])
                        preds[ci] = dc

        def ac_scan(ci, ss, se, ah, al):
            """Band ss..se of component ``ci`` over its own block grid:
            first pass (T.81 G.1.2.2) or successive-approximation
            refinement (G.1.2.3); EOB runs batch across blocks."""
            eobrun = 0
            pending: list[int] = []  # correction bits owed after EOBn

            def emit_eobrun():
                nonlocal eobrun
                if eobrun:
                    n = eobrun.bit_length() - 1
                    put_coded(codes, n, 0)
                    if n:
                        put(n, eobrun - (1 << n))
                    eobrun = 0
                for bit in pending:
                    put(1, bit)
                pending.clear()

            def first(block, absv):
                run, wrote = 0, False
                for v, av in zip(block[ss : se + 1], absv):
                    if av == 0:  # the point transform truncates to 0
                        run += 1
                        continue
                    emit_eobrun()
                    while run > 15:
                        put_coded(codes, 15, 0)
                        run -= 16
                    put_coded(codes, run, av if v > 0 else -av)
                    run, wrote = 0, True
                return [] if run or not wrote else None

            def refine(block, absv):
                # correction bits owed after the NEXT symbol, each tagged
                # with how many zero-history coefficients precede it
                # since that symbol: a ZRL's 16-zero window only carries
                # the corrections INSIDE it (the decoder stops reading
                # at the 16th zero)
                run, br = 0, []
                for idx, av in enumerate(absv):
                    if av == 0:
                        run += 1
                        continue
                    if av > 1:  # already significant: correction bit
                        br.append((run, av & 1))
                        continue
                    emit_eobrun()  # newly significant (av == 1)
                    while run > 15:
                        put_coded(codes, 15, 0)
                        for _tag, bit in [t for t in br if t[0] < 16]:
                            put(1, bit)
                        br = [(tag - 16, bit) for tag, bit in br if tag >= 16]
                        run -= 16
                    put_coded(codes, run, 1 if block[ss + idx] > 0 else -1)
                    for _tag, bit in br:
                        put(1, bit)
                    run, br = 0, []
                return [bit for _tag, bit in br] if run or br else None

            bh, bw = comp_blocks(h, w, plan[ci][1], plan[ci][2], hmax, vmax)
            for row in coefs[ci][:bh]:
                for block in row[:bw]:
                    absv = [abs(v) >> al for v in block[ss : se + 1]]
                    owed = (refine if ah else first)(block, absv)
                    if owed is not None:  # the block ends in an EOB run
                        eobrun += 1
                        pending.extend(owed)
                        if eobrun == 0x7FFF:
                            emit_eobrun()
            emit_eobrun()

        # the libjpeg-like script: (component or None for the
        # interleaved DC scan, Ss, Se, Ah, Al)
        script = [(None, 0, 0, 0, 1)] + (
            [(0, 1, 63, 0, 1), (None, 0, 0, 1, 0), (0, 1, 63, 1, 0)]
            if grayscale
            else [(0, 1, 5, 0, 2), (1, 1, 63, 0, 1), (2, 1, 63, 0, 1),
                  (0, 6, 63, 0, 2), (0, 1, 63, 2, 1), (None, 0, 0, 1, 0),
                  (0, 1, 63, 1, 0), (1, 1, 63, 1, 0), (2, 1, 63, 1, 0)]
        )
        for ci, ss, se, ah, al in script:
            ids = range(len(plan)) if ci is None else [ci]
            out += sos([(c + 1, 0) for c in ids], ss, se, ah, al)
            if ci is None:
                dc_scan(ah, al)
            else:
                ac_scan(ci, ss, se, ah, al)
            flush()
        return bytes(out + b"\xff\xd9")

    def encode_jpeg_lossless(
        arr,
        predictor: int = 4,
        point_transform: int = 0,
        precision: int = 8,
        restart_interval: int = 0,
    ) -> bytes:
        """Predictive lossless (SOF3) encode at any T.81 precision 2-16:
        predictor 1-7, optional point transform, grayscale or RGB (3
        components, 1×1 sampling, NO color transform — T.81 defines no
        colorspace for the lossless process; the decoder mirrors this),
        optional restart markers. Differences are coded as SSSS
        category + extend bits (T.81 H.1.2)."""
        if not 1 <= predictor <= 7:
            raise ValueError(f"predictor must be 1..7, got {predictor}")
        if not 0 <= point_transform <= 7:
            raise ValueError(f"point transform must be 0..7, got {point_transform}")
        if not 2 <= precision <= 16:
            raise ValueError(
                f"precision must be 2..16 (T.81), got {precision}"
            )
        if not 0 <= restart_interval <= 0xFFFF:
            raise ValueError(
                f"restart interval must be 0..65535, got {restart_interval}"
            )
        a = np.asarray(arr)
        if a.size and int(np.max(a)) > (1 << precision) - 1:
            raise ValueError(
                f"samples exceed {precision}-bit range 0.."
                f"{(1 << precision) - 1}"
            )
        if a.ndim == 2:
            planes = [a]
        elif a.ndim == 3 and a.shape[2] == 3:
            planes = [a[:, :, c] for c in range(3)]
        else:
            raise ValueError(f"expected HxW or HxWx3 array, got {a.shape}")
        pt = point_transform
        planes = [(p.astype(np.int64) >> pt).tolist() for p in planes]
        h, w = a.shape[:2]
        # Annex K luma DC table at ≤8 bits, the flat 17-category table
        # above (wide-precision diffs reach SSSS 16)
        table = annex_k[0][0] if precision <= 8 else flat_dc17
        codes = dict(huffman_codes(*table))
        nc = len(planes)
        out = bytearray(b"\xff\xd8") + dht(0, 0, table)
        out += sof(0xC3, precision, h, w, [(ci + 1, 0x11, 0) for ci in range(nc)])
        if restart_interval:
            out += dri(restart_interval)
        # Ss = predictor, Se = 0, Al = point transform; no AC table
        out += sos([(ci + 1, 0x00) for ci in range(nc)], predictor, 0, 0, pt)
        put, put_coded, flush, restart = bit_writer(out)
        default = 1 << (precision - pt - 1)
        n_mcu = 0
        sy, sx = 0, 0  # position where the current interval began
        for y in range(h):
            for x in range(w):
                if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                    restart()  # prediction resets exactly like the decoder
                    sy, sx = y, x
                n_mcu += 1
                for p in planes:
                    # px may exceed the sample width for predictors 4-6;
                    # the mod-2^16 difference arithmetic absorbs it
                    px = predict(p, y, x, sy, sx, default, predictor)
                    diff = (p[y][x] - px) & 0xFFFF
                    if diff >= 32768:
                        diff -= 65536  # signed representative
                    if diff == -32768:
                        put(*codes[16])  # SSSS=16 carries no extend bits
                    else:
                        put_coded(codes, 0, diff)
        flush()
        return bytes(out + b"\xff\xd9")

    return (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        encode_jpeg_12bit,
        encode_jpeg_lossless,
    )


(
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    encode_jpeg_12bit,
    encode_jpeg_lossless,
) = _build_jpeg_codec()
