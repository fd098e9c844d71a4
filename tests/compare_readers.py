"""Row-for-row comparison of the raw raster readers across two checkouts.

Builds small hand-made files (numpy + struct, 150x100 pixels) for every
reader that goes through the shared block scan, reads each with one
checkout's readers at tile_px 64 and 256, and pickles the rows sorted
by (raster_id, band, tile_y, tile_x); `diff` compares two pickles
field by field (NaN equal to NaN, signed zeros told apart).

Usage:
  python tests/compare_readers.py build DATA_DIR
  python tests/compare_readers.py read CHECKOUT DATA_DIR OUT.pkl
  python tests/compare_readers.py diff A.pkl B.pkl
"""

from __future__ import annotations

import importlib
import math
import os
import pickle
import struct
import sys

import numpy as np

W, H = 150, 100


def build(D: str) -> None:
    os.makedirs(D, exist_ok=True)
    rng = np.random.default_rng(7)

    def cube(nb, dt, w=W, h=H, lo=0, hi=250):
        return (lo + rng.random((nb, h, w)) * (hi - lo)).astype(dt)

    def p(name):
        return os.path.join(D, name)

    def stored(c, inter):
        if inter == "bsq":
            return c
        if inter == "bil":
            return c.transpose(1, 0, 2)
        return c.transpose(1, 2, 0)

    # ---- EHdr: bil/bip/bsq, both orders, truncated
    for inter, bo, dt in [("bil", "<", "uint16"), ("bip", ">", "int16"),
                          ("bsq", "<", "float32"), ("bil", ">", "float32")]:
        c = cube(3, dt)
        name = f"eh_{inter}_{'le' if bo == '<' else 'be'}_{dt}"
        pt = {"uint16": "UNSIGNEDINT", "int16": "SIGNEDINT",
              "float32": "FLOAT"}[dt]
        nbits = np.dtype(dt).itemsize * 8
        with open(p(name + ".hdr"), "w") as f:
            f.write(f"NROWS {H}\nNCOLS {W}\nNBANDS 3\nNBITS {nbits}\n"
                    f"PIXELTYPE {pt}\nBYTEORDER {'I' if bo == '<' else 'M'}\n"
                    f"LAYOUT {inter.upper()}\nSKIPBYTES 10\nULXMAP 100.5\n"
                    f"ULYMAP 200.5\nXDIM 1\nYDIM 1\nNODATA -9\n")
        body = stored(c, inter).astype(np.dtype(dt).newbyteorder(bo)).tobytes()
        with open(p(name + ".bil"), "wb") as f:
            f.write(b"x" * 10 + body)
    # truncated EHdr (zero-fill past EOF)
    with open(p("eh_trunc.hdr"), "w") as f:
        f.write(f"NROWS {H}\nNCOLS {W}\nNBANDS 2\nNBITS 8\nLAYOUT BSQ\n")
    with open(p("eh_trunc.bil"), "wb") as f:
        f.write(cube(2, "uint8").tobytes()[:W * H + 5000])

    # ---- ENVI bip big-endian with map info
    c = cube(2, "int32")
    with open(p("envi1.dat.hdr"), "w") as f:
        f.write(f"ENVI\nsamples = {W}\nlines = {H}\nbands = 2\n"
                "header offset = 4\ndata type = 3\ninterleave = bip\n"
                "byte order = 1\nmap info = {UTM, 1, 1, 500000, 4000000, 30,"
                " 30}\n")
    with open(p("envi1.dat"), "wb") as f:
        f.write(b"abcd" + stored(c, "bip").astype(">i4").tobytes())

    # ---- KRO 16-bit 3 comps
    c = cube(3, "uint16")
    with open(p("k1.kro"), "wb") as f:
        f.write(b"KRO\x01" + struct.pack(">4I", W, H, 16, 3)
                + stored(c, "bip").astype(">u2").tobytes())

    # ---- PNM P6 / P5 16-bit
    with open(p("a.ppm"), "wb") as f:
        f.write(b"P6\n# c\n%d %d\n255\n" % (W, H)
                + stored(cube(3, "uint8"), "bip").tobytes())
    with open(p("b.pgm"), "wb") as f:
        f.write(b"P5 %d %d 4000\n" % (W, H)
                + cube(1, "uint16", hi=4000)[0].astype(">u2").tobytes())

    # ---- LAN 8-bit, 16-bit BE, 4-bit
    for name, ptype, dt, bo in [("l8", 0, "uint8", "<"), ("l16", 2, "int16", ">"),
                                ("l4", 1, "uint8", "<")]:
        nb = 3
        hdr = bytearray(128)
        hdr[:6] = b"HEAD74"
        hdr[6:8] = struct.pack(bo + "h", ptype)
        hdr[8:10] = struct.pack(bo + "h", nb)
        hdr[16:24] = struct.pack(bo + "ii", W, H)
        hdr[112:128] = struct.pack(bo + "ffff", 10.0, 20.0, 2.0, 2.0)
        if ptype == 1:
            c = cube(nb, "uint8", hi=16)
            lb = (W + 1) // 2
            pad = np.zeros((nb, H, lb * 2), np.uint8)
            pad[:, :, :W] = c
            packed = (pad[:, :, 0::2] << 4) | pad[:, :, 1::2]
            body = stored(packed, "bil").tobytes()
        else:
            body = stored(cube(nb, dt), "bil").astype(
                np.dtype(dt).newbyteorder(bo)).tobytes()
        with open(p(name + ".lan"), "wb") as f:
            f.write(bytes(hdr) + body)

    # ---- ELAS (BE, 2 bands, record stride > row) / DIPEx
    for name, magic, bo, code in [("e1.elas", 4321, ">", 16), ("d1.dipex", 4322, "<", 16)]:
        nb, nbpr = 2, W * 4 * 2 + 24
        hdr = bytearray(1024)
        hdr[:32] = struct.pack(bo + "8i", 1024, nbpr, 1, H, 1, W, nb, magic)
        if magic == 4321:
            hdr[72:76] = bytes([0, 0, code << 2, 4])
            hdr[36:40] = struct.pack(">i", 3000)
            hdr[44:48] = struct.pack(">i", 2000)
            hdr[48:56] = struct.pack(">ff", 5.0, 5.0)
        else:
            hdr[72:76] = bytes([4, code << 2, 0, 0])
        c = cube(nb, "float32")
        body = np.zeros((H, nbpr), np.uint8)
        for b in range(nb):
            body[:, b * W * 4:(b + 1) * W * 4] = np.frombuffer(
                c[b].astype(bo + "f4").tobytes(), np.uint8).reshape(H, W * 4)
        with open(p(name), "wb") as f:
            f.write(bytes(hdr) + body.tobytes())

    # ---- BYN (little, int16): W/H from bounds
    dlat = dlon = 60
    south, north, west, east = 0, (H - 1) * dlat, 0, (W - 1) * dlon
    hdr = bytearray(80)
    hdr[:16] = struct.pack("<4i", south, north, west, east)
    hdr[16:24] = struct.pack("<4h", dlat, dlon, 0, 0)
    hdr[24:32] = struct.pack("<d", 1.0)
    hdr[32:36] = struct.pack("<2h", 2, 0)
    hdr[42:54] = struct.pack("<6h", 0, 0, 0, 0, 1, 0)
    with open(p("g1.byn"), "wb") as f:
        f.write(bytes(hdr) + cube(1, "int16", lo=-3000, hi=3000)[0].astype("<i2").tobytes())

    # ---- PCRaster CSF f32
    hdr = bytearray(256)
    hdr[:27] = b"RUU CROSS SYSTEM MAP FORMAT"
    hdr[64:68] = struct.pack("<HH", 0xF2, 0x5A)
    hdr[84:100] = struct.pack("<dd", 10.0, 500.0)
    hdr[100:108] = struct.pack("<II", H, W)
    hdr[108:116] = struct.pack("<d", 2.5)
    with open(p("c1.map"), "wb") as f:
        f.write(bytes(hdr) + cube(1, "float32")[0].astype("<f4").tobytes())

    # ---- Leveller
    tags = b""
    def tag(name, data):
        return bytes([len(name)]) + name + struct.pack("<I", len(data)) + data
    tags += tag(b"hf_w", struct.pack("<i", W)) + tag(b"hf_b", struct.pack("<i", H))
    tags += tag(b"hf_worldspacing", struct.pack("<d", 3.0))
    tags += tag(b"hf_data", cube(1, "float32")[0].astype("<f4").tobytes())
    with open(p("t1.ter"), "wb") as f:
        f.write(b"trrn\x07" + tags)

    # ---- ROI_PAC .unw (RMG 2-band f4) and .dem (i2)
    for ext, dt, nb in [("unw", "<f4", 2), ("dem", "<i2", 1)]:
        c = cube(nb, dt)
        with open(p(f"r1.{ext}.rsc"), "w") as f:
            f.write(f"WIDTH {W}\nFILE_LENGTH {H}\nX_FIRST 1.0\nX_STEP 0.1\n"
                    f"Y_FIRST 5.0\nY_STEP -0.1\n")
        with open(p(f"r1.{ext}"), "wb") as f:
            f.write(stored(c, "bil").tobytes() if nb > 1 else c.tobytes())

    # ---- ISCE BSQ/BIL/BIP(3 bands BE)/BIP 1 band
    for scheme, nb, dt, bo in [("BSQ", 2, "FLOAT", "l"), ("BIL", 3, "SHORT", "b"),
                               ("BIP", 3, "FLOAT", "b"), ("BIP", 1, "DOUBLE", "l")]:
        name = f"i_{scheme}_{nb}.img"
        npdt = {"FLOAT": "f4", "SHORT": "i2", "DOUBLE": "f8"}[dt]
        c = cube(nb, npdt)
        with open(p(name + ".xml"), "w") as f:
            f.write("<imageFile>" + "".join(
                f'<property name="{k}"><value>{v}</value></property>'
                for k, v in [("WIDTH", W), ("LENGTH", H), ("NUMBER_BANDS", nb),
                             ("DATA_TYPE", dt), ("SCHEME", scheme),
                             ("BYTE_ORDER", bo)]) + "</imageFile>")
        order = ">" if bo == "b" else "<"
        with open(p(name), "wb") as f:
            f.write(stored(c, scheme.lower()).astype(order + npdt).tobytes())

    # ---- Northwood GRD / GRC
    hdr = bytearray(1024)
    hdr[:5] = b"HGPC1"
    hdr[9:13] = struct.pack("<HH", W, H)
    hdr[13:45] = struct.pack("<4d", 0.0, 149.0, 0.0, 99.0)
    hdr[45:53] = struct.pack("<ff", -10.0, 500.0)
    hdr[516:518] = struct.pack("<H", 2)
    hdr[518:525] = struct.pack("<f", -10.0) + bytes([0, 0, 255])
    hdr[525:532] = struct.pack("<f", 500.0) + bytes([255, 0, 0])
    with open(p("n1.grd"), "wb") as f:
        f.write(bytes(hdr) + cube(1, "uint16", hi=65535)[0].astype("<u2").tobytes())
    hdr = bytearray(1024)
    hdr[:5] = b"HGPC8"
    hdr[9:13] = struct.pack("<HH", W, H)
    hdr[13:45] = struct.pack("<4d", 0.0, 149.0, 0.0, 99.0)
    hdr[1023] = 4
    with open(p("n1.grc"), "wb") as f:
        f.write(bytes(hdr) + cube(1, "uint16", hi=65535)[0].astype("<u2").tobytes())

    # ---- SGI verbatim (3 ch) and RLE (2 ch)
    c = cube(3, "uint8")
    with open(p("s1.sgi"), "wb") as f:
        f.write(struct.pack(">hBBHHHH", 474, 0, 1, 3, W, H, 3).ljust(512, b"\0"))
        f.write(c[:, ::-1, :].tobytes())          # stored bottom-up
    c = cube(2, "uint8", hi=4).astype(np.uint8) * 60
    n = H * 2
    lines, starts, sizes = [], [], []
    off = 512 + 8 * n
    for z in range(2):
        for fy in range(H):
            row = c[z, H - 1 - fy]
            enc = bytearray()
            x = 0
            while x < W:
                r = 1
                while x + r < W and row[x + r] == row[x] and r < 127:
                    r += 1
                enc += bytes([r, row[x]])
                x += r
            enc += b"\0"
            starts.append(off)
            sizes.append(len(enc))
            lines.append(bytes(enc))
            off += len(enc)
    with open(p("s2.sgi"), "wb") as f:
        f.write(struct.pack(">hBBHHHH", 474, 1, 1, 3, W, H, 2).ljust(512, b"\0"))
        f.write(struct.pack(f">{n}I", *starts) + struct.pack(f">{n}I", *sizes))
        f.write(b"".join(lines))

    # ---- Terragen
    with open(p("tg.ter"), "wb") as f:
        f.write(b"TERRAGENTERRAIN ")
        f.write(b"XPTS" + struct.pack("<hh", W, 0))
        f.write(b"YPTS" + struct.pack("<hh", H, 0))
        f.write(b"SCAL" + struct.pack("<3f", 30.0, 30.0, 30.0))
        f.write(b"ALTW" + struct.pack("<hh", 100, 5))
        f.write(cube(1, "int16", lo=-500, hi=500)[0][::-1].astype("<i2").tobytes())

    # ---- ILWIS
    with open(p("il.mpr"), "w") as f:
        f.write(f"[BaseMap]\nCoordBounds=0 0 {W} {H}\n[Map]\nSize={H} {W}\n"
                "[MapStore]\nData=il.mp#\nType=Int\n")
    with open(p("il.mp#"), "wb") as f:
        f.write(cube(1, "int16")[0].astype("<i2").tobytes())

    # ---- VICAR: BSQ byte w/ NBB, BIL half HIGH, BIP real, VAX f4/f8/c8, COMP
    def vicar(name, fmt, org, nb, body, isz, nbb=0, extra=""):
        if org == "BIP":
            recsize = nbb + nb * isz
        else:
            recsize = nbb + W * isz
        lbl = (f"LBLSIZE=400 FORMAT='{fmt}' ORG='{org}' NL={H} NS={W} NB={nb}"
               f" RECSIZE={recsize} NBB={nbb} NLB=0 {extra}")
        nrec = {"BSQ": nb * H, "BIL": nb * H, "BIP": W * H}[org]
        recs = np.zeros((nrec, recsize), np.uint8)
        recs[:, :nbb] = 0xAB
        recs[:, nbb:] = np.frombuffer(body, np.uint8).reshape(nrec, recsize - nbb)
        with open(p(name), "wb") as f:
            f.write(lbl.ljust(400).encode() + recs.tobytes())
    vicar("v_bsq.vic", "BYTE", "BSQ", 2, cube(2, "uint8").tobytes(), 1, nbb=6)
    vicar("v_bil.vic", "HALF", "BIL", 2,
          stored(cube(2, "int16"), "bil").astype(">i2").tobytes(), 2,
          extra="INTFMT='HIGH'")
    vicar("v_bip.vic", "REAL", "BIP", 3,
          stored(cube(3, "float32"), "bip").astype("<f4").tobytes(), 4, nbb=2,
          extra="REALFMT='RIEEE'")
    vicar("v_comp.vic", "COMP", "BSQ", 1,
          cube(1, "float32", w=2 * W).astype(">f4").tobytes(), 8)
    rawu = rng.integers(0, 2**32, size=(2, H, W), dtype=np.uint32)
    rawu[..., 0] = 0
    vicar("v_vaxf.vic", "REAL", "BSQ", 2, rawu.astype("<u4").tobytes(), 4,
          extra="REALFMT='VAX'")
    rawd = rng.integers(0, 2**63, size=(1, H, W), dtype=np.uint64)
    vicar("v_vaxd.vic", "DOUB", "BSQ", 1, rawd.astype("<u8").tobytes(), 8,
          extra="REALFMT='VAX'")
    vicar("v_vaxc.vic", "COMP", "BIP", 2,
          rng.integers(0, 2**63, size=(H, W, 2), dtype=np.uint64)
          .astype("<u8").tobytes(), 8, extra="REALFMT='VAX'")
    # truncated vicar (zero fill)
    with open(p("v_bsq.vic"), "rb") as f:
        data = f.read()
    with open(p("v_cut.vic"), "wb") as f:
        f.write(data[:len(data) - 3000])

    # ---- FITS: float32 2-plane, int16+BZERO (promote), cards as strings
    def fits(name, bitpix, arr, extra):
        cards = [f"SIMPLE  = {'T':>20}", f"BITPIX  = {bitpix:>20}",
                 f"NAXIS   = {arr.ndim:>20}"]
        for ax, n in enumerate(arr.shape[::-1], 1):
            cards.append(f"NAXIS{ax:<3}= {n:>20}")
        cards += extra + ["END"]
        hdr = "".join(c.ljust(80) for c in cards).encode()
        hdr = hdr.ljust(-(-len(hdr) // 2880) * 2880, b" ")
        body = arr.tobytes()
        body = body.ljust(-(-len(body) // 2880) * 2880, b"\0")
        with open(p(name), "wb") as f:
            f.write(hdr + body)
    fits("f1.fits", -32, cube(2, ">f4"), [f"BLANK   = {-9:>20}"])
    fits("f2.fits", 16, cube(1, ">i2", lo=-30000, hi=30000)[0],
         [f"BZERO   = {32768:>20}"])

    # ---- Surfer 6 / 7
    c = cube(1, "float32")[0]
    with open(p("gs6.grd"), "wb") as f:
        f.write(b"DSBB" + struct.pack("<hh", W, H)
                + struct.pack("<6d", 0, 149, 0, 99, c.min(), c.max())
                + c[::-1].astype("<f4").tobytes())
    c = cube(1, "float64")[0]
    with open(p("gs7.grd"), "wb") as f:
        f.write(b"DSRB" + struct.pack("<Ii", 4, 2))
        f.write(b"GRID" + struct.pack("<I", 72)
                + struct.pack("<ii8d", H, W, 0.0, 0.0, 1.0, 1.0, 0.0, 250.0,
                              0.0, 1.70141e38))
        f.write(b"DATA" + struct.pack("<I", H * W * 8)
                + c[::-1].astype("<f8").tobytes())

    # ---- BMP 1/4/8/24/32 bit, bottom-up and top-down, world files
    def bmp(name, bits, planes, top_down=False, wld=None):
        stride = ((W * bits + 7) // 8 + 3) & ~3
        rows = np.zeros((H, stride), np.uint8)
        if bits in (24, 32):
            bpp = bits // 8
            px = np.zeros((H, W, bpp), np.uint8)
            for b in (1, 2, 3):
                px[:, :, 3 - b] = planes[b - 1]
            rows[:, :W * bpp] = px.reshape(H, W * bpp)
        elif bits == 8:
            rows[:, :W] = planes[0]
        else:
            v = planes[0]
            if bits == 1:
                rows[:, :(W + 7) // 8] = np.packbits(v, axis=1)
            else:
                pad = np.zeros((H, ((W + 1) // 2) * 2), np.uint8)
                pad[:, :W] = v
                rows[:, :(W + 1) // 2] = (pad[:, 0::2] << 4) | pad[:, 1::2]
        if not top_down:
            rows = rows[::-1]
        npal = (1 << bits) if bits <= 8 else 0
        off = 14 + 40 + 4 * npal
        head = b"BM" + struct.pack("<IHHI", off + rows.nbytes, 0, 0, off)
        head += struct.pack("<IiiHHIIiiII", 40, W, -H if top_down else H, 1,
                            bits, 0, rows.nbytes, 0, 0, npal, 0)
        pal = bytes(np.arange(4 * npal, dtype=np.uint8) % 251)
        with open(p(name + ".bmp"), "wb") as f:
            f.write(head + pal + rows.tobytes())
        if wld:
            with open(p(name + ".wld"), "w") as f:
                f.write("\n".join(str(v) for v in wld) + "\n")
    bmp("b1", 1, [cube(1, "uint8", hi=2)[0]])
    bmp("b4", 4, [cube(1, "uint8", hi=16)[0]], top_down=True)
    bmp("b8", 8, [cube(1, "uint8")[0]], wld=[2.0, 0.0, 0.0, -2.0, 101.0, 199.0])
    bmp("b24", 24, list(cube(3, "uint8")), wld=[2.0, 0.25, 0.5, -2.0, 101.0, 199.0])
    bmp("b32", 32, list(cube(3, "uint8")), top_down=True)

    # ---- PCIDSK BAND (u8 + i16), PIXEL (u8 x3), FILE (detached 16U)
    def pcidsk(name, interleave, types, body, fname="", start=0, pix=0, line=0):
        fh = bytearray(b" " * 512)
        fh[:8] = b"PCIDSK  "
        def put(a, b, v):
            s = str(v).encode()
            fh[a:b] = s.rjust(b - a)
        nch = len(types)
        put(376, 384, nch); put(384, 392, W); put(392, 400, H)
        fh[360:368] = interleave.ljust(8).encode()
        put(304, 320, 1 + 1 + 2 * nch)          # image block after headers
        put(336, 352, 2)
        cnt = {t: types.count(t) for t in ("8U", "16S", "16U", "32R")}
        put(464, 468, cnt["8U"]); put(468, 472, cnt["16S"])
        put(472, 476, cnt["16U"]); put(476, 480, cnt["32R"])
        ihs = b""
        for t in types:
            ih = bytearray(b" " * 1024)
            ih[160:168] = t.ljust(8).encode()
            if fname:
                ih[64:128] = fname.ljust(64).encode()
            if interleave == "FILE":
                ih[168:184] = str(start).rjust(16).encode()
                ih[184:192] = str(pix).rjust(8).encode()
                ih[192:200] = str(line).rjust(8).encode()
            ihs += bytes(ih)
        with open(p(name), "wb") as f:
            f.write(bytes(fh) + ihs + body)
    a8 = cube(1, "uint8")[0]
    a16 = cube(1, "int16", lo=-900, hi=900)[0]
    pcidsk("pc_band.pix", "BAND", ["8U", "16S"],
           a8.tobytes() + a16.astype("<i2").tobytes())
    c = cube(3, "uint8")
    line = W * 3 + ((-(W * 3)) % 512)
    rows = np.zeros((H, line), np.uint8)
    rows[:, :W * 3] = stored(c, "bip").reshape(H, W * 3)
    pcidsk("pc_pixel.pix", "PIXEL", ["8U"] * 3, rows.tobytes())
    a = cube(1, "uint16")[0]
    with open(p("pc_ext.raw"), "wb") as f:
        f.write(b"zz" + np.pad(a.astype("<u2").view(np.uint8).reshape(H, W * 2),
                               ((0, 0), (0, 6))).tobytes())
    pcidsk("pc_file.pix", "FILE", ["16U"], b"", fname="pc_ext.raw", start=2,
           pix=2, line=W * 2 + 6)

    # ---- PAux: 2 channels pixel-interleaved, mixed order, short tail
    c = cube(2, "uint16")
    rec = np.zeros((H, W, 5), np.uint8)
    rec[:, :, 0:2] = c[0].astype(">u2").view(np.uint8).reshape(H, W, 2)
    rec[:, :, 2:4] = c[1].astype("<u2").view(np.uint8).reshape(H, W, 2)
    with open(p("pa.raw"), "wb") as f:
        f.write(b"H" * 8 + rec.tobytes()[:-3])
    with open(p("pa.aux"), "w") as f:
        f.write(f"AuxilaryTarget: pa.raw\nRawDefinition: {W} {H} 2\n"
                f"ChanDefinition-1: 16U 8 5 {W * 5} Unswapped\n"
                f"ChanDefinition-2: 16U 10 5 {W * 5} Swapped\n"
                "UpLeftX: 0\nUpLeftY: 100\nLoRightX: 150\nLoRightY: 0\n")

    # ---- MFF untiled (2 band files) and tiled
    with open(p("m1.hdr"), "w") as f:
        f.write(f"IMAGE_LINES = {H}\nLINE_SAMPLES = {W}\nBYTE_ORDER = MSB\n")
    cube(1, "uint8")[0].tofile(p("m1.b0"))
    cube(1, "float32")[0].astype(">f4").tofile(p("m1.r1"))
    with open(p("m2.hdr"), "w") as f:
        f.write(f"IMAGE_LINES = {H}\nLINE_SAMPLES = {W}\ntile_size_rows = 64\n"
                "tile_size_columns = 64\n")
    full = np.zeros((128, 192), np.uint8)
    full[:H, :W] = cube(1, "uint8")[0]
    blocks = b"".join(full[ty * 64:(ty + 1) * 64, tx * 64:(tx + 1) * 64].tobytes()
                      for ty in range(2) for tx in range(3))
    with open(p("m2.b0"), "wb") as f:
        f.write(blocks[:-100])

    # ---- PDS3 bsq/bil/bip with line prefix, ISIS3 raw + tiled
    def pds(name, axis, core, nb, dt_kw, bits, layout, prefix=0, data=b""):
        lbl = ["PDS_VERSION_ID = PDS3", "RECORD_TYPE = FIXED_LENGTH",
               "RECORD_BYTES = 1", f'^IMAGE = ("{name}.img", 1 <BYTES>)',
               "OBJECT = IMAGE"]
        if axis:
            lbl += [f"AXIS_NAME = {axis}", f"CORE_ITEMS = {core}"]
        else:
            lbl += [f"LINES = {H}", f"LINE_SAMPLES = {W}", f"BANDS = {nb}",
                    f"BAND_STORAGE_TYPE = {layout}"]
        lbl += [f"SAMPLE_TYPE = {dt_kw}", f"SAMPLE_BITS = {bits}",
                f"LINE_PREFIX_BYTES = {prefix}", "END_OBJECT = IMAGE",
                "OBJECT = IMAGE_MAP_PROJECTION", "MAP_SCALE = 0.5 <KM/PIXEL>",
                "LINE_PROJECTION_OFFSET = 10", "SAMPLE_PROJECTION_OFFSET = 20",
                "END_OBJECT = IMAGE_MAP_PROJECTION", "END"]
        with open(p(name + ".lbl"), "w") as f:
            f.write("\n".join(lbl) + "\n")
        with open(p(name + ".img"), "wb") as f:
            f.write(data)
    def with_prefix(c, inter, dt, prefix):
        nb = c.shape[0]
        s = stored(c, inter).astype(dt)
        if inter == "bsq":
            lines = s.reshape(nb * H, -1).view(np.uint8)
        else:
            lines = s.reshape(H, -1).view(np.uint8)
        out = np.concatenate([np.full((lines.shape[0], prefix), 7, np.uint8),
                              lines], axis=1)
        return out.tobytes()
    pds("pd_bsq", "(SAMPLE,LINE,BAND)", f"({W},{H},2)", 2, "MSB_INTEGER", 16,
        None, prefix=4, data=with_prefix(cube(2, "int16"), "bsq", ">i2", 4))
    pds("pd_bil", "(SAMPLE,BAND,LINE)", f"({W},3,{H})", 3, "PC_REAL", 32,
        None, data=with_prefix(cube(3, "float32"), "bil", "<f4", 0))
    pds("pd_bip", "(BAND,LINE,SAMPLE)", f"(2,{H},{W})", 2,
        "UNSIGNED_INTEGER", 8, None, prefix=3,
        data=with_prefix(cube(2, "uint8"), "bip", "u1", 3)[:-500])
    pds("pd_plain", None, None, 1, "LSB_UNSIGNED_INTEGER", 16,
        "BAND_SEQUENTIAL", data=cube(1, "uint16")[0].astype("<u2").tobytes())

    # ---- SIGDEM, GSC
    c = cube(1, "int32", lo=-1e6, hi=1e6)[0]
    c[0, :5] = -0x80000000
    hdr = bytearray(132)
    hdr[:6] = b"SIGDEM"
    hdr[6:8] = struct.pack(">h", 1)
    hdr[44:60] = struct.pack(">2d", 5.0, 1000.0)
    hdr[60:108] = struct.pack(">6d", 0, 0, 0, 150, 100, 0)
    hdr[108:116] = struct.pack(">2i", W, H)
    hdr[116:132] = struct.pack(">2d", 1.0, 1.0)
    with open(p("sg.sigdem"), "wb") as f:
        f.write(bytes(hdr) + c.astype(">i4").tobytes())
    reclen = W * 4
    with open(p("gc.gsc"), "wb") as f:
        head = struct.pack("<3i", reclen, W, H) + b"\x02\x00\x00\x00" + b"\0" * 4
        head = head.ljust(reclen + 8 + 12, b"\0")
        head += struct.pack("<8f", 1.0, 1.0, 5.0, 0, 0, 100.0, 0, 0)
        head = head.ljust((reclen + 8) * 2 + 4, b"\0")
        body = np.zeros((H, W + 2), np.float32)
        body[:, :W] = cube(1, "float32")[0]
        f.write(head + body.astype("<f4").tobytes())

    # ---- BSB: depth 7, one byte per pixel, trailing line index
    body = bytearray(b"VER/3.0\r\nBSB/NA=t,RA=%d,%d\r\nRGB/1,1,2,3\r\n"
                     % (W, H) + b"\x1a\x00\x07")
    offsets = []
    for y in range(H):
        offsets.append(len(body))
        body += bytes([y + 1]) + bytes(1 + (x * y) % 100
                                       for x in range(W)) + b"\0"
    idx = len(body)
    body += struct.pack(f">{H}i", *offsets) + struct.pack(">i", idx)
    with open(p("k1.kap"), "wb") as f:
        f.write(body)

    # ---- TGA uncompressed: gray 8/16, truecolor 16/24/32, both origins
    for name, img_type, depth, desc, bpp in [
            ("tg8", 3, 8, 0x20, 1), ("tg16g", 3, 16, 0, 2),
            ("tg16", 2, 16, 0x20, 2), ("tg24", 2, 24, 0, 3),
            ("tg32", 2, 32, 0x28, 4)]:
        head = bytes([0, 0, img_type]) + bytes(5) + struct.pack(
            "<4H", 0, 0, W, H) + bytes([depth, desc])
        with open(p(name + ".tga"), "wb") as f:
            f.write(head + cube(1, "uint8", w=W * bpp)[0].tobytes())

    # ---- SAGA bottom-up and top-down
    for name, ttb in [("sa1", False), ("sa2", True)]:
        c = cube(1, "float32")[0]
        with open(p(name + ".sgrd"), "w") as f:
            f.write(f"NAME\t= x\nDATAFORMAT\t= FLOAT\nBYTEORDER_BIG\t= FALSE\n"
                    f"POSITION_XMIN\t= 0.5\nPOSITION_YMIN\t= 0.5\nCELLSIZE\t= 1\n"
                    f"CELLCOUNT_X\t= {W}\nCELLCOUNT_Y\t= {H}\n"
                    f"TOPTOBOTTOM\t= {'TRUE' if ttb else 'FALSE'}\n"
                    f"NODATA_VALUE\t= -99999\nDATAFILE_OFFSET\t= 0\n")
        (c if ttb else c[::-1]).astype("<f4").tofile(p(name + ".sdat"))


def cases(D: str) -> list:
    def p(f):
        return os.path.join(D, f)

    CASES = []
    for f in sorted(os.listdir(D)):
        if f.startswith("eh_") and f.endswith(".bil"):
            CASES.append((f, "ehdr", "read_ehdr", p(f), {}))
    CASES += [
        ("envi1", "ehdr", "read_envi", p("envi1.dat"), {}),
        ("kro", "btkro", "read_kro", p("k1.kro"), {}),
        ("ppm", "pnm", "read_pnm", p("a.ppm"), {}),
        ("pgm", "pnm", "read_pnm", p("b.pgm"), {}),
        ("lan8", "lan", "read_lan", p("l8.lan"), {}),
        ("lan16", "lan", "read_lan", p("l16.lan"), {}),
        ("lan4", "lan", "read_lan", p("l4.lan"), {}),
        ("elas", "gridmisc", "read_elas", p("e1.elas"), {}),
        ("dipex", "gridmisc", "read_dipex", p("d1.dipex"), {}),
        ("byn", "gridmisc", "read_byn", p("g1.byn"), {}),
        ("csf", "gridmisc", "read_pcraster", p("c1.map"), {}),
        ("lev", "gridmisc", "read_leveller", p("t1.ter"), {}),
        ("roi_unw", "insar", "read_roipac", p("r1.unw"), {}),
        ("roi_dem", "insar", "read_roipac", p("r1.dem"), {}),
        ("grd", "northwood", "read_grd", p("n1.grd"), {}),
        ("grc", "northwood", "read_grc", p("n1.grc"), {}),
        ("sgi_v", "imagemisc", "read_sgi", p("s1.sgi"), {}),
        ("sgi_rle", "imagemisc", "read_sgi", p("s2.sgi"), {}),
        ("terragen", "imagemisc", "read_terragen", p("tg.ter"), {}),
        ("ilwis", "imagemisc", "read_ilwis", p("il.mpr"), {}),
        ("fits1", "fits", "read_fits", p("f1.fits"), {}),
        ("fits2", "fits", "read_fits", p("f2.fits"), {}),
        ("gs6", "gsg", "read_gsbg", p("gs6.grd"), {}),
        ("gs7", "gsg", "read_gs7bg", p("gs7.grd"), {}),
        ("pc_band", "pcidsk", "read_pcidsk", p("pc_band.pix"), {}),
        ("pc_pixel", "pcidsk", "read_pcidsk", p("pc_pixel.pix"), {}),
        ("pc_file", "pcidsk", "read_pcidsk", p("pc_file.pix"), {}),
        ("paux", "rawlabels", "read_paux", p("pa.raw"), {}),
        ("mff1", "rawlabels", "read_mff", p("m1.hdr"), {"notile": 1}),
        ("mff2", "rawlabels", "read_mff", p("m2.hdr"), {"notile": 1}),
        ("pd_bsq", "planetary", "read_pds", p("pd_bsq.lbl"), {}),
        ("pd_bil", "planetary", "read_pds", p("pd_bil.lbl"), {}),
        ("pd_bip", "planetary", "read_pds", p("pd_bip.lbl"), {}),
        ("pd_plain", "planetary", "read_pds", p("pd_plain.lbl"), {}),
        ("sigdem", "rawmisc", "read_sigdem", p("sg.sigdem"), {}),
        ("gsc", "rawmisc", "read_gsc", p("gc.gsc"), {}),
        ("saga_bu", "saga", "read_saga", p("sa1.sgrd"), {}),
        ("saga_td", "saga", "read_saga", p("sa2.sgrd"), {}),
        ("bsb", "bsb", "read_bsb", p("k1.kap"), {}),
    ]
    for f in sorted(os.listdir(D)):
        if f.startswith("i_") and f.endswith(".img"):
            CASES.append((f, "insar", "read_isce", p(f + ".xml"), {}))
        if f.endswith(".vic"):
            CASES.append((f, "vicar", "read_vicar", p(f), {}))
        if f.endswith(".tga"):
            CASES.append((f, "tga", "read_tga", p(f), {}))
        if f.endswith(".bmp"):
            CASES.append((f, "bmp", "read_bmp", p(f), {}))
    return CASES


def read(tree: str, D: str, out_path: str) -> None:
    sys.path.insert(0, tree)
    from gdal_spark.session import get_spark

    spark = get_spark("compare_readers", cpus=4)
    out = {}
    for name, mod, fn, path, kw in cases(D):
        reader = getattr(importlib.import_module("gdal_spark." + mod), fn)
        for tp in ((None,) if kw.get("notile") else (64, 256)):
            key = f"{name}@{tp}"
            try:
                rows = reader(spark, path, **({} if tp is None
                                              else {"tile_px": tp})).collect()
                out[key] = ("OK", sorted(
                    (tuple(list(v) if k == "geotransform" else v
                           for k, v in r.asDict().items()) for r in rows),
                    key=lambda t: (t[0], t[1], t[4], t[3])))
            except Exception as e:  # noqa: BLE001 — recorded, compared
                out[key] = ("ERR", f"{type(e).__name__}: "
                            + str(e).split("\n")[0][:200])
            print(key, out[key][0], len(out[key][1]), flush=True)
    spark.stop()
    with open(out_path, "wb") as f:
        pickle.dump(out, f)


def _eq(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or (
            x == y and math.copysign(1, x) == math.copysign(1, y))
    if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
        return len(x) == len(y) and all(map(_eq, x, y))
    return x == y


def diff(a_path: str, b_path: str) -> int:
    with open(a_path, "rb") as f:
        a = pickle.load(f)
    with open(b_path, "rb") as f:
        b = pickle.load(f)
    same = 0
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        if va is None or vb is None:
            print("MISSING", k)
        elif va[0] != vb[0] or (va[0] == "ERR" and va[1] != vb[1]):
            print("STATUS", k, *(v[1] if v[0] == "ERR" else v[0]
                                 for v in (va, vb)))
        elif va[0] == "ERR":
            same += 1
        elif len(va[1]) != len(vb[1]):
            print("NROWS", k, len(va[1]), len(vb[1]))
        else:
            bad = [(x, y) for x, y in zip(va[1], vb[1]) if not _eq(x, y)]
            if not bad:
                same += 1
                continue
            x, y = bad[0]
            cols = [j for j in range(len(x)) if not _eq(x[j], y[j])]
            print("DIFF", k, len(bad), "rows; columns", cols,
                  "first:", [(x[j], y[j]) for j in cols if j != 11][:2])
    print("same:", same, "of", len(set(a) | set(b)))
    return 0


if __name__ == "__main__":
    cmd, *args = sys.argv[1:]
    {"build": build, "read": read, "diff": diff}[cmd](*args)
