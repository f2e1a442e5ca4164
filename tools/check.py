#!/usr/bin/env python3
"""Dev-only harness (driver-side python, not part of the library):
runs each oracle SQL in DuckDB against the same parquet tables and
compares with the Verify output, approximating the driver's
row/schema/hash match (columns sorted by name, rows sorted)."""
import duckdb, hashlib, json, sys, os
import pandas as pd

TABLES = ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']


def cache_key(sf, sql):
    """Cache key for one (sf_dir, oracle-sql) pair."""
    return hashlib.sha256((sf + '\0' + sql).encode()).hexdigest()[:24]


def run_oracle(con, sf, sql):
    """Execute oracle SQL, with an optional result cache keyed by
    (sf_dir, sql-text) under $GRAFT_ORACLE_CACHE. Two uses: (1) queries
    sharing one oracle verbatim (q109/q110's epoch-dedup CTE chain,
    ~300 s wall each at sf1) pay DuckDB once per sweep; (2) an
    expensive oracle can be PRIMED into the cache by a budget-free
    background run, turning a sweep-timeout skip into a real checked
    row. The cache dir is per sweep invocation — results must never
    outlive the Verify dump they correspond to (the file-format gates'
    fixtures are rewritten per dump)."""
    cache_dir = os.environ.get('GRAFT_ORACLE_CACHE')
    if not cache_dir:
        return con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    cpath = f'{cache_dir}/{cache_key(sf, sql)}.parquet'
    if os.path.exists(cpath):
        return pd.read_parquet(cpath)
    duck = con.sql(sql).df()
    tmp = f'{cpath}.tmp{os.getpid()}'
    duck.to_parquet(tmp)
    os.replace(tmp, cpath)  # atomic: a killed run never leaves a torn cache
    return duck

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/root/repo/tmp/verify_out'
    only = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    n_ok = n_fail = 0
    for name in sorted(oracle):
        if only and only not in name:
            continue
        sql = oracle[name]
        try:
            duck = run_oracle(con, sf, sql)
        except Exception as e:
            print(f'{name}: ORACLE-ERROR {e}')
            n_fail += 1
            continue
        try:
            spark = pd.read_parquet(f'{out}/{name}')
        except Exception as e:
            print(f'{name}: SPARK-MISSING {e}')
            n_fail += 1
            continue
        s = spark[sorted(spark.columns)]
        d = duck[sorted(duck.columns)]
        if list(s.columns) != list(d.columns):
            print(f'{name}: SCHEMA-MISMATCH spark={list(s.columns)} duck={list(d.columns)}')
            n_fail += 1
            continue
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
        if len(s) != len(d):
            print(f'{name}: ROWCOUNT spark={len(s)} duck={len(d)}')
            n_fail += 1
            continue
        ss = s.astype(str)
        dd = d.astype(str)
        if not ss.equals(dd):
            diff = (ss != dd).any(axis=1)
            print(f'{name}: VALUE-MISMATCH {int(diff.sum())}/{len(s)} rows differ')
            print('  spark dtypes:', dict(s.dtypes.astype(str)))
            print('  duck  dtypes:', dict(d.dtypes.astype(str)))
            bad = diff[diff].index[:3]
            for i in bad:
                print(f'  row {i}: spark={s.loc[i].to_dict()} duck={d.loc[i].to_dict()}')
            n_fail += 1
            continue
        # flag dtype divergences even when values stringify equal
        dt_note = ''
        if list(s.dtypes.astype(str)) != list(d.dtypes.astype(str)):
            dt_note = f'  [dtypes spark={list(s.dtypes.astype(str))} duck={list(d.dtypes.astype(str))}]'
        print(f'{name}: OK rows={len(s)}{dt_note}')
        n_ok += 1
    print(f'== {n_ok} ok, {n_fail} fail ==')
    sys.exit(1 if n_fail else 0)

if __name__ == '__main__':
    main()
