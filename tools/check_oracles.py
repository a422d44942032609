#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare each
graft.Verify parquet dump against its DuckDB oracle (rows / schema /
value match, columns sorted by name like the driver does).

Usage: python3 tools/check_oracles.py [sfDir] [verifyOutDir] [query...]
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)
"""
import duckdb, json, sys, glob, os

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/graft_verify'
only = set(sys.argv[3:])

con = duckdb.connect()
for t in glob.glob(f'{sf}/*.parquet'):
    name = os.path.basename(t).replace('.parquet', '')
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")

oracle = json.load(open(f'{out}/oracle_sql.json'))
fails = 0
# Verify logs a query that throws and writes no directory for it, so on a
# full run an oracled query without one failed rather than passed
if not only:
    for name in sorted(oracle):
        if not os.path.isdir(f'{out}/{name}'):
            fails += 1
            print(f"{name}: MISSING no output directory")
for name in sorted(os.listdir(out)):
    if not os.path.isdir(f'{out}/{name}'):
        continue
    if only and name not in only:
        continue
    try:
        sdf = con.execute(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        if name not in oracle:
            print(f"{name}: no_oracle rows={len(sdf)}")
            continue
        odf = con.execute(oracle[name]).fetchdf()
        sdf = sdf[sorted(sdf.columns)]
        odf = odf[sorted(odf.columns)]
        schema = list(sdf.columns) == list(odf.columns)
        s1 = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True).astype(str)
        s2 = odf.sort_values(by=list(odf.columns)).reset_index(drop=True).astype(str)
        eq = s1.equals(s2)
        ok = schema and len(sdf) == len(odf) and eq
        print(f"{name}: rows=({len(sdf)},{len(odf)}) schema={schema} match={eq}")
        if not ok:
            fails += 1
            if schema and len(s1) == len(s2):
                d = (s1 != s2).any(axis=1)
                print("spark:\n", s1[d].head(3), "\noracle:\n", s2[d].head(3))
    except Exception as e:
        fails += 1
        print(f"{name}: ERR {str(e)[:400]}")
sys.exit(1 if fails else 0)
