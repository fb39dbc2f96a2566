#!/usr/bin/env python3
"""Cross-check graft's VP8L ENCODER against libwebp's decoder.

Usage:
  sbt -batch "Test/runMain graft.ext.WebpConformanceDump /tmp/webp_dump"
  python3 tools/webp_conformance.py /tmp/webp_dump

The Scala main writes `<name>_<w>x<h>.webp` files encoded by
graft.ext.VP8LCodec.encode from the formulas mirrored below; this
script decodes each with the system libwebp (ctypes) and compares
every pixel. Lossless format => zero tolerance. Dev tool only (the
JVM test suite cannot load libwebp); run manually per round and
record the result in SURVEY.md.
"""
import ctypes
import os
import sys


def formula(name, x, y, c):
    if name == "gradient":
        return (x * 3 + y * 5 + c * 7) % 256
    if name == "noise":
        return (x * 97 + y * 61 + c * 41 + x * y * 13) % 256
    if name == "stripes":
        return [(y * 37) % 256, (y * 91) % 256, (y * 53) % 256][c]
    raise KeyError(name)


def main(dump_dir):
    lw = ctypes.CDLL("libwebp.so.7")
    lw.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_ubyte)
    lw.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int)]
    files = sorted(f for f in os.listdir(dump_dir) if f.endswith(".webp"))
    if not files:
        print("no .webp files in", dump_dir)
        return 1
    failures = 0
    for fn in files:
        name, dims = fn[:-5].rsplit("_", 1)
        w, h = (int(v) for v in dims.split("x"))
        data = open(os.path.join(dump_dir, fn), "rb").read()
        wi, hi = ctypes.c_int(), ctypes.c_int()
        dec = lw.WebPDecodeRGB(data, len(data),
                               ctypes.byref(wi), ctypes.byref(hi))
        if not dec or wi.value != w or hi.value != h:
            print(f"FAIL {fn}: libwebp rejected or bad dims")
            failures += 1
            continue
        bad = 0
        for y in range(h):
            for x in range(w):
                i = 3 * (y * w + x)
                for c in range(3):
                    if dec[i + c] != formula(name, x, y, c):
                        bad += 1
        if bad:
            print(f"FAIL {fn}: {bad} mismatched samples")
            failures += 1
        else:
            print(f"PASS {fn} ({w}x{h})")
    print(f"== {len(files) - failures} pass / {failures} fail ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
