#!/usr/bin/env python3
"""Dev-only harness (driver-side python, not part of the library):
runs each oracle SQL in DuckDB against the same parquet tables and
compares with the Verify output, approximating the driver's
row/schema/hash match (columns sorted by name, rows sorted).

Each result line carries the oracle's wall seconds and the process's
peak RSS so far (ru_maxrss, a high-water mark: it only rises, so a line
shows the largest footprint of any oracle up to and including its own).
The summary line `== N ok, M fail ==` is followed by the slowest
oracles. A file-gate oracle whose fixtures were written by a Verify of
another dump fails as FIXTURE-STALE without running."""
import duckdb, hashlib, json, re, resource, sys, os, time
import pandas as pd

SLOWEST = 5  # oracles listed after the summary line

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

FIXTURE_DIR = re.compile(r"'([^']*/filegate)/")


def stale_fixtures(sql, sf, out):
    """None when every `filegate` fixture dir the oracle reads carries
    the stamp of the Verify that wrote the dump `out` from `sf`, else
    the FIXTURE-STALE report. A later Verify on the same scratch root
    rewrites the fixtures (and the stamp), so the oracle would read
    another run's files."""
    want = {'dump': os.path.abspath(out), 'sf': os.path.abspath(sf)}
    for d in sorted(set(FIXTURE_DIR.findall(sql))):
        try:
            with open(f'{d}/verify_stamp.json') as f:
                stamp = json.load(f)
        except (OSError, ValueError):
            return f'FIXTURE-STALE {d} has no Verify stamp'
        if stamp != want:
            return f"FIXTURE-STALE {d} holds the fixtures of dump {stamp.get('dump')} ({stamp.get('sf')})"
    return None


def selected(name, only):
    """True when `name` contains one of the comma-separated substrings in
    `only` (the SPARK_GRAFT_VERIFY_FILTER syntax); every name passes when
    `only` is empty."""
    return not only or any(s in name for s in only.split(',') if s)


def sort_frame(df):
    """Columns sorted by name, then rows sorted by every column."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def dtypes(df):
    """Column dtypes in column-name order."""
    return list(df[sorted(df.columns)].dtypes.astype(str))


def compare(a, b, names=('spark', 'duck')):
    """Compare two result frames as the oracle gate does: columns sorted
    by name, rows sorted, values stringified. Returns None when they
    match, else the failure report; `names` label the two sides."""
    na, nb = names
    if sorted(a.columns) != sorted(b.columns):
        return f'SCHEMA-MISMATCH {na}={sorted(a.columns)} {nb}={sorted(b.columns)}'
    a, b = sort_frame(a), sort_frame(b)
    if len(a) != len(b):
        return f'ROWCOUNT {na}={len(a)} {nb}={len(b)}'
    sa, sb = a.astype(str), b.astype(str)
    if sa.equals(sb):
        return None
    diff = (sa != sb).any(axis=1)
    lines = [f'VALUE-MISMATCH {int(diff.sum())}/{len(a)} rows differ',
             f'  {na} dtypes: {dict(a.dtypes.astype(str))}',
             f'  {nb} dtypes: {dict(b.dtypes.astype(str))}']
    for i in diff[diff].index[:3]:
        lines.append(f'  row {i}: {na}={a.loc[i].to_dict()} {nb}={b.loc[i].to_dict()}')
    return '\n'.join(lines)


def maxrss_mb():
    """The process's peak RSS so far in MB (Linux reports ru_maxrss in
    KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/root/repo/tmp/verify_out'
    only = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    n_ok = n_fail = 0
    walls = {}
    for name in sorted(oracle):
        if not selected(name, only):
            continue
        sql = oracle[name]
        stale = stale_fixtures(sql, sf, out)
        if stale:
            print(f'{name}: {stale}')
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            duck = run_oracle(con, sf, sql)
            err = None
        except Exception as e:
            err = e
        walls[name] = time.monotonic() - t0
        cost = f'  [oracle {walls[name]:.2f} s, maxrss {maxrss_mb():.0f} MB]'
        if err is not None:
            print(f'{name}: ORACLE-ERROR {err}{cost}')
            n_fail += 1
            continue
        try:
            spark = pd.read_parquet(f'{out}/{name}')
        except Exception as e:
            print(f'{name}: SPARK-MISSING {e}{cost}')
            n_fail += 1
            continue
        err = compare(spark, duck)
        if err:
            print(f'{name}: {err}{cost}')
            n_fail += 1
            continue
        # flag dtype divergences even when values stringify equal
        dt_note = ''
        if dtypes(spark) != dtypes(duck):
            dt_note = f'  [dtypes spark={dtypes(spark)} duck={dtypes(duck)}]'
        print(f'{name}: OK rows={len(spark)}{dt_note}{cost}')
        n_ok += 1
    print(f'== {n_ok} ok, {n_fail} fail ==')
    print(f'slowest {SLOWEST} oracles:')
    for name, wall in sorted(walls.items(), key=lambda kv: -kv[1])[:SLOWEST]:
        print(f'  {wall:8.2f} s  {name}')
    sys.exit(1 if n_fail else 0)

if __name__ == '__main__':
    main()
