import duckdb, json, glob, os, sys
import pyarrow.parquet as pq
sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.001'
# default: target/verify_smoke in the checkout this script lives in
checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    checkout, 'target', 'verify_smoke')
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ['lineitem','orders','customer','supplier','part','nation',
          'region','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
bad = 0; n = 0
for name, sql in sorted(json.load(open(f'{out}/oracle_sql.json')).items()):
    if only and name not in only: continue
    n += 1
    sdf = ddf = None
    try:
        sdf = pq.read_table(glob.glob(f'{out}/{name}/*.parquet')[0]).to_pandas()
        ddf = con.execute(sql).df()
        sdf, ddf = sdf[sorted(sdf.columns)], ddf[sorted(ddf.columns)]
        ok = list(sdf.columns)==list(ddf.columns) and len(sdf)==len(ddf) and \
             all((sdf[c].values==ddf[c].values).all() for c in sdf.columns)
    except Exception as e:
        ok = False; print('ERROR', name, repr(e)[:200])
    if not ok:
        bad += 1
        detail = f'{len(sdf)} {len(ddf)}' if sdf is not None and ddf is not None else ''
        print('MISMATCH', name, detail)
    elif only: print(name, len(sdf), 'rows match')
print('checked:', n, 'mismatches:', bad)
