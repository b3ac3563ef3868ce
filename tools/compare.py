#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Exits 1 when oracle_sql.json is missing, when any query FAILs, or when any
rows-only result is ** EMPTY **; 0 otherwise, so scripts can gate on it.

Reads each <outDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from <outDir>/oracle_sql.json in DuckDB (tables = parquet files
of <sfDir> registered as views), sorts columns by name and rows by all
columns, and compares values exactly (floats to 1e-12 relative, to spot
genuine drift vs representation noise — the driver hashes exactly, so any
diff printed here must be fixed, not tolerated).
"""
import json, math, sys
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

try:
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
except FileNotFoundError:
    print(f"FAIL: {outdir}/oracle_sql.json is missing")
    sys.exit(1)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                rr.append(round(v, 9))
            else:
                rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out

def values_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-12 * max(1.0, abs(fa), abs(fb))
    return a == b

ok = fail = empty = 0
import glob
names = sorted(x.split("/")[-1] for x in glob.glob(f"{outdir}/*") if not x.endswith(".json"))
for name in names:
    try:
        sdf = con.execute(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
        scols = [d[0] for d in sdf.description]
        srows = sdf.fetchall()
    except Exception as e:
        print(f"FAIL {name}: cannot read spark result: {e}")
        fail += 1
        continue
    if name not in oracle:
        print(f"rows {name}: rows-only ({len(srows)} rows)" + ("  ** EMPTY **" if not srows else ""))
        empty += not srows
        continue
    try:
        odf = con.execute(oracle[name])
        ocols = [d[0] for d in odf.description]
        orows = odf.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fail += 1
        continue
    sc, sr = canon(srows, scols)
    oc, orr = canon(orows, ocols)
    if sc != oc:
        print(f"FAIL {name}: column mismatch spark={sc} oracle={oc}")
        fail += 1
        continue
    if len(sr) != len(orr):
        print(f"FAIL {name}: row count spark={len(sr)} oracle={len(orr)}")
        fail += 1
        continue
    bad = None
    for i, (a, b) in enumerate(zip(sr, orr)):
        if not all(values_eq(x, y) for x, y in zip(a, b)):
            bad = (i, a, b)
            break
    if bad:
        print(f"FAIL {name}: first diff at sorted row {bad[0]}:\n  spark : {bad[1]}\n  oracle: {bad[2]}")
        fail += 1
    else:
        print(f"OK   {name}: {len(sr)} rows")
        ok += 1
print(f"\n{ok} ok, {fail} fail, {len(names) - ok - fail} rows-only")
sys.exit(1 if fail or empty else 0)
