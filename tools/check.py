#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify first
(writes <out>/<query>/ parquet + oracle_sql.json), then this script runs each
oracle SQL in DuckDB over the same sf tables and compares.

Every name in oracle_sql.json must have an output dir: a query that threw
inside Verify writes none and FAILs here. A dumped query without oracle SQL
FAILs too. Naming queries restricts the check to them (for a Verify dump
restricted to the same names).

DuckDB runs under an explicit 6GB memory_limit: an oracle that needs more
FAILs and the run exits non-zero.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, sys, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
# an explicit cap (DuckDB's default is 80% of the machine's memory): an
# oracle that needs more raises below and FAILs, never takes the box
con = duckdb.connect(config={"memory_limit": "6GB"})
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
dumped = {n for n in os.listdir(outdir)
          if os.path.isdir(os.path.join(outdir, n))}
fail = 0
for name in sorted(only or (dumped | set(oracle))):
    d = os.path.join(outdir, name)
    if name not in dumped:
        print(f"FAIL {name}: no output dir (the query threw or was not run)")
        fail += 1; continue
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    if name not in oracle:
        print(f"FAIL {name}: no oracle SQL"); fail += 1; continue
    got = con.execute(f"SELECT * FROM '{files[0]}'").fetchdf()
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fail += 1; continue
    # driver-style compare: sort columns by name, then rows, hash values
    gs = got.reindex(sorted(got.columns), axis=1)
    es = exp.reindex(sorted(exp.columns), axis=1)
    if list(gs.columns) != list(es.columns):
        print(f"FAIL {name}: columns {list(gs.columns)} vs {list(es.columns)}")
        fail += 1; continue
    if [str(t) for t in gs.dtypes] != [str(t) for t in es.dtypes]:
        print(f"WARN {name}: dtypes {list(map(str,gs.dtypes))} vs {list(map(str,es.dtypes))}")
    if len(gs) != len(es):
        print(f"FAIL {name}: rows {len(gs)} vs {len(es)}"); fail += 1; continue
    gs = gs.sort_values(by=list(gs.columns), ignore_index=True)
    es = es.sort_values(by=list(es.columns), ignore_index=True)
    if gs.equals(es):
        print(f"OK   {name}: {len(gs)} rows exact")
    else:
        neq = (gs != es) & ~(gs.isna() & es.isna())
        bad = neq.any(axis=0)
        print(f"FAIL {name}: value mismatch in cols {list(bad[bad].index)}")
        for c in bad[bad].index:
            i = neq[c].idxmax()
            print(f"   e.g. row {i} col {c}: got={gs[c][i]!r} exp={es[c][i]!r}")
        fail += 1
print("=" * 40)
print("ALL OK" if fail == 0 else f"{fail} FAILURES")
sys.exit(1 if fail else 0)
