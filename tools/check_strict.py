#!/usr/bin/env python3
"""Strict replica of the suspected driver comparator.

Unlike tools/check.py (which reads BOTH sides through DuckDB, hiding
representation asymmetry), this reads the Spark parquet via pyarrow→pandas
(decimals stay decimal.Decimal, dates stay date/datetime64) and the oracle
via duckdb fetchdf (decimals → float64). Cells are compared as strings after
sorting columns by name and rows by value — a stand-in for the driver's
"sort columns, sort rows, hash values" gate. A query that is value-exact
under check.py but FAILS here has a representation-level divergence the
driver would flag.

As in tools/check.py, every name in oracle_sql.json must have an output
dir (a query that threw inside Verify writes none and FAILs), and naming
queries restricts the check to them.

DuckDB runs under an explicit 6GB memory_limit: an oracle that needs more
FAILs and the run exits non-zero.

Usage: python3 tools/check_strict.py <sfDir> <verifyOutDir> [query ...]
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq

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
    got = pq.read_table(files[0]).to_pandas()
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fail += 1; continue
    gs = got.reindex(sorted(got.columns), axis=1)
    es = exp.reindex(sorted(exp.columns), axis=1)
    if list(gs.columns) != list(es.columns):
        print(f"FAIL {name}: columns {list(gs.columns)} vs {list(es.columns)}")
        fail += 1; continue
    if len(gs) != len(es):
        print(f"FAIL {name}: rows {len(gs)} vs {len(es)}"); fail += 1; continue
    # canonical cell → string. None (true NULL) → "" but NaN → "nan":
    # conflating them would hide exactly the Spark-NaN-vs-oracle-NULL
    # divergence this tool exists to catch. Caveat: in NUMERIC columns
    # pandas itself maps NULL to NaN on BOTH read paths, so NULL-vs-NaN
    # there is invisible to any pandas-based comparator (the driver's
    # included) — hence the loud warning whenever NaN cells appear at
    # all: a query that emits NaN/NULL doubles is hash-fragile and
    # should render them to strings or sentinel values instead.
    def rows(df):
        return sorted(tuple("" if v is None else "nan" if v != v else str(v)
                            for v in r)
                      for r in df.itertuples(index=False, name=None))
    gr, er = rows(gs), rows(es)
    nan_cells = sum(c == "nan" for r in gr for c in r)
    if nan_cells:
        print(f"WARN {name}: {nan_cells} NaN cells in spark output — "
              "NULL-vs-NaN is indistinguishable in numeric pandas columns; "
              "emit strings/sentinels for hash stability")
    if gr == er:
        print(f"OK   {name}: {len(gr)} rows hash-stable")
    else:
        bad = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
        print(f"FAIL {name}: first sorted-row divergence at {bad}:")
        print(f"   spark : {gr[bad]}")
        print(f"   oracle: {er[bad]}")
        fail += 1
print("=" * 40)
print("ALL STRICT-OK" if fail == 0 else f"{fail} STRICT FAILURES")
sys.exit(1 if fail else 0)
