#!/usr/bin/env python3
"""Cross-engine probe for the exact-integer fixed-point ln chain.

The pure-integer PSI contract rests on one claim: DuckDB evaluating
`lnRatioFpSql` (graft/queries/DriftQueries.scala) produces the IDENTICAL integer
as `DetMath.lnRatioFpBig` for every ratio of positive BIGINTs in the
domain. The per-query exact gate only exercises the (a, b) pairs the
current testdata happens to produce; this probe sweeps the DOMAIN —
power-of-two edges (where the bitlen-guess correction must fire),
b = 1 extremes, a = b zeros, 2^60-scale inputs, and thousands of
count-shaped random pairs — so a DuckDB behavior change in bin()/<<//
// would be caught here before an external compare sees it.

The Python model below mirrors DetMath.lnRatioFpBig; the SQL text
mirrors DriftQueries.lnRatioFpSql. All three share the pinned constants
(Q = 10^18, LN2_FP, the 12 Horner coefficients) — keep in sync.

Usage: python3 tools/lnfp_check.py    (exit 0 = all pairs agree)
"""
import sys
import duckdb

Q = 10**18
LN2_FP = 693147180559945309
COEFFS = [
    2000000000000000000, 666666666666666666, 400000000000000000,
    285714285714285714, 222222222222222222, 181818181818181818,
    153846153846153846, 133333333333333333, 117647058823529411,
    105263157894736842, 95238095238095238, 86956521739130434]


def ln_ratio_fp(a: int, b: int) -> int:
    assert 1 <= b <= a < 1 << 61
    k0 = a.bit_length() - b.bit_length()
    k = k0 if a >= (b << k0) else k0 - 1
    b2 = b << k
    t = ((a - b2) * Q) // (a + b2)
    u = (t * t) // Q
    acc = COEFFS[-1]
    for c in reversed(COEFFS[:-1]):
        acc = c + (u * acc) // Q
    return (t * acc) // Q + k * LN2_FP


def chain_sql() -> str:
    horner = [f"  {COEFFS[-1]}::HUGEINT AS a11,"]
    for i in range(len(COEFFS) - 2, -1, -1):
        prev = f"a{i + 1}"
        horner.append(
            f"  {COEFFS[i]}::HUGEINT + (u * {prev}) // {Q} AS a{i},")
    return (
        "SELECT a, b,\n"
        "  LENGTH(bin(a)) - LENGTH(bin(b)) AS k0,\n"
        "  CASE WHEN a >= (b << k0) THEN k0 ELSE k0 - 1 END AS k,\n"
        "  (b << k) AS b2,\n"
        f"  ((a - b2)::HUGEINT * {Q}) // (a + b2) AS t,\n"
        f"  (t * t) // {Q} AS u,\n"
        + "\n".join(horner) + "\n"
        f"  (t * a0) // {Q} + k::HUGEINT * {LN2_FP} AS lnfp\n"
        "FROM pairs")


def pairs():
    out = set()
    # power-of-two edges: the bitlen first guess is off by one exactly
    # when a < b<<k0 — exercise both sides of every boundary
    for p in range(0, 61):
        for da in (-1, 0, 1):
            a = (1 << p) + da
            if a < 1:
                continue
            for b in (1, 3, (1 << max(p // 2, 1)) - 1, (1 << max(p // 2, 1))):
                if 1 <= b <= a:
                    out.add((a, b))
    # a = b exact zeros at many magnitudes
    for p in range(0, 61, 5):
        out.add(((1 << p) + 7, (1 << p) + 7))
    # count-shaped randoms (deterministic LCG — no imports needed)
    x = 123456789
    for _ in range(8000):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + x % ((1 << 60) - 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = 1 + x % a
        out.add((max(a, b), min(a, b)))
    # PSI-realistic: (count*1e6)-scale numerators/denominators
    for i in range(1, 500):
        a = i * 1000003
        b = 1 + (i * 37) % a
        out.add((max(a, b), min(a, b)))
    return sorted(out)


def main():
    ps = pairs()
    con = duckdb.connect()
    con.sql("CREATE TABLE pairs(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", ps)
    rows = con.sql(chain_sql()).fetchall()
    bad = 0
    for r in rows:
        a, b, lnfp = r[0], r[1], int(r[-1])
        want = ln_ratio_fp(a, b)
        if lnfp != want:
            bad += 1
            if bad <= 5:
                print(f"MISMATCH a={a} b={b} duckdb={lnfp} model={want}")
    print(f"== {len(rows) - bad} agree / {bad} mismatch "
          f"(duckdb {duckdb.__version__}) ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
