"""Compare graft.Verify's Spark outputs with DuckDB running each query's
oracle SQL over the same parquet inputs.

    python3 tools/check_oracle.py [sfdir] [outdir] [q1,q2,...]

The optional third argument checks only the named queries (the subset a
`graft.Verify` run was given). Exits 1 when any checked query fails.
"""
import duckdb, json, sys, glob, os
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.001'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
con = duckdb.connect()
for p in glob.glob(f'{sfdir}/*.parquet'):
    name = os.path.basename(p).replace('.parquet', '')
    con.sql(f"create view {name} as select * from '{p}'")
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
ok, bad = [], []
if only is not None:
    bad += [(name, 'NO ORACLE SQL') for name in sorted(only - oracle.keys())]
    oracle = {n: q for n, q in oracle.items() if n in only}
for name, sql in sorted(oracle.items()):
    spark_dir = f'{outdir}/{name}'
    if not os.path.isdir(spark_dir):
        bad.append((name, 'NO SPARK OUTPUT')); continue
    try:
        got = con.sql(f"select * from '{spark_dir}/*.parquet'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        bad.append((name, f'SQL error: {str(e)[:200]}')); continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        bad.append((name, f'cols differ: spark={gc} duck={ec}')); continue
    g = got[gc].astype(str).apply(lambda r: '|'.join(r), axis=1).sort_values().reset_index(drop=True)
    e = exp[gc].astype(str).apply(lambda r: '|'.join(r), axis=1).sort_values().reset_index(drop=True)
    if len(g) != len(e):
        bad.append((name, f'rowcount: spark={len(g)} duck={len(e)}')); continue
    if not g.equals(e):
        diff = (g != e)
        i = diff.idxmax()
        bad.append((name, f'value mismatch @sortedrow{i}:\n  spark={g[i][:250]}\n  duck ={e[i][:250]}')); continue
    ok.append(name)
print('OK:', len(ok), ok)
print()
for n, why in bad: print('FAIL', n, '->', why)
sys.exit(1 if bad else 0)
