#!/usr/bin/env python3
"""Bit-exact local stand-in for the driver's HASH compare.

Usage: python3 tools/exact_check.py <sfDir> <verifyOutDir> [--only q1,q2] [-v]

Unlike oracle_check.py (1e-9-relative floats — the gate for "is the
math right"), this mirrors the driver's hash gate: columns sorted by
name, rows sorted by all columns, every cell compared EXACTLY (floats
bit-for-bit via struct packing). A query can pass oracle_check and
still fail the driver's hash on a 1-ulp float divergence — this tool
catches that class locally. With -v it prints the first few differing
cells (column, row, both values, hex bit patterns). Dev tool only.
"""
import argparse, json, sys, glob, os, struct, math
import duckdb


def canon(con, rel_sql):
    df = con.sql(rel_sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def bits(x):
    try:
        return struct.pack(">d", float(x)).hex()
    except Exception:
        return repr(x)


def cells_equal(a, b):
    if a is None and b is None:
        return True
    fa = isinstance(a, float)
    fb = isinstance(b, float)
    if fa or fb:
        try:
            x, y = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(x) and math.isnan(y):
            return True
        return struct.pack(">d", x) == struct.pack(">d", y)
    try:
        if a != a and b != b:  # NaN-ish (pandas NaT etc.)
            return True
    except Exception:
        pass
    return a == b or str(a) == str(b)


def main(sf_dir, out_dir, only=None, verbose=False):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[: -len(".parquet")]
        # driver testdata tables are single files; Spark-written scaled
        # corpora are DIRECTORIES named <table>.parquet with part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for q in sorted((only or set()) - oracle.keys()):
        print(f"FAIL {q}: no entry in oracle_sql.json")
        n_fail += 1
    for q, sql in sorted(oracle.items()):
        if only is not None and q not in only:
            continue
        spark_dir = f"{out_dir}/{q}"
        if not os.path.isdir(spark_dir):
            print(f"FAIL {q}: no result directory")
            n_fail += 1
            continue
        try:
            # HUGEINT (int128) has no faithful client export — DuckDB
            # hands it to pandas/arrow as float64, so an oracle column
            # of that type hashes differently from Spark's int64 on the
            # driver even when every VALUE matches. cells_equal below
            # coerces int-vs-float to float compare, so this tool was
            # blind to exactly that class (the r06–r10 q_corpus_report
            # / q_psi_drift failures). Reject the TYPE at the gate.
            rel = con.sql(sql)
            huge = [c for c, t in zip(rel.columns, map(str, rel.types))
                    if t.upper() in ("HUGEINT", "INT128", "UHUGEINT", "UINT128")]
            if huge:
                print(f"FAIL {q}: oracle emits HUGEINT column(s) {huge} "
                      "(no faithful export; CAST to BIGINT in the SQL)")
                n_fail += 1
                continue
            # Output KIND parity (int/float/string/date/timestamp/bool)
            # between the Spark parquet and the oracle relation, via
            # DuckDB's normalized types on BOTH. A kind mismatch can
            # hash differently on the driver even when coerced values
            # agree (the q_revenue_monthly timestamp-vs-date class).
            def kindmap(r):
                def k(t):
                    t = str(t).upper()
                    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT"):
                        return "int"
                    if t in ("DOUBLE", "FLOAT", "REAL"):
                        return "float"
                    if t == "VARCHAR":
                        return "str"
                    if t.startswith("TIMESTAMP"):
                        return "timestamp"
                    if t == "DATE":
                        return "date"
                    if t == "BOOLEAN":
                        return "bool"
                    return t
                return {c: k(t) for c, t in zip(r.columns, r.types)}
            sk = kindmap(con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'"))
            ok_ = kindmap(rel)
            kb = [(c, sk[c], ok_[c]) for c in sk if c in ok_ and sk[c] != ok_[c]]
            if kb:
                print(f"FAIL {q}: output kind mismatch {kb}")
                n_fail += 1
                continue
            got = canon(con, f"SELECT * FROM '{spark_dir}/*.parquet'")
            want = canon(con, sql)
        except Exception as e:
            print(f"FAIL {q}: exec error: {e}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {q}: rows {len(got)} vs {len(want)}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {q}: cols {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1
            continue
        # Same class from the other direction: an integer column on one
        # side vs a float column on the other hashes differently on the
        # driver even when float-coerced values agree.
        kind_bad = [(c, got[c].dtype.kind, want[c].dtype.kind)
                    for c in got.columns
                    if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}]
        if kind_bad:
            print(f"FAIL {q}: int-vs-float dtype mismatch {kind_bad}")
            n_fail += 1
            continue
        diffs = []
        for c in got.columns:
            gv, wv = got[c].tolist(), want[c].tolist()
            for i, (a, b) in enumerate(zip(gv, wv)):
                if not cells_equal(a, b):
                    diffs.append((c, i, a, b))
                    if len(diffs) >= 8 and not verbose:
                        break
            if diffs and not verbose:
                break
        if diffs:
            print(f"FAIL {q}: {len(diffs)}+ differing cells")
            for c, i, a, b in diffs[:8]:
                print(f"  col={c} row={i}\n    spark={a!r} [{bits(a)}]\n    duck ={b!r} [{bits(b)}]")
            n_fail += 1
        else:
            print(f"PASS {q} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Bit-exact oracle check of a Verify dump.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", type=lambda v: set(v.split(",")),
                    help="comma-separated query keys to check")
    ap.add_argument("-v", action="store_true", help="print differing cells")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.only, a.v))
