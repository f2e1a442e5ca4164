#!/usr/bin/env python3
"""Compare two Verify dumps query by query, by value AND dtype.

check.py compares a dump with the DuckDB oracle. When a change moves the
engine and its oracle onto one shared definition, a change mirrored on
both sides still passes check.py; comparing the dump against one made at
the parent commit catches it.

    python3 tools/dump_diff.py <old_dump> <new_dump> [substrings]

Values are compared as check.py compares them (columns sorted by name,
rows sorted, values stringified), then the dtypes column by column.
Every query directory in either dump is compared (only those whose name
contains one of the comma-separated `substrings`, when given — the
SPARK_GRAFT_VERIFY_FILTER syntax); exits 1 on any difference or missing
query."""
import os, sys
import pandas as pd
from check import compare, dtypes, selected


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    old, new = sys.argv[1], sys.argv[2]
    only = sys.argv[3] if len(sys.argv) > 3 else None
    names = sorted({d for root in (old, new) for d in os.listdir(root)
                    if os.path.isdir(os.path.join(root, d))})
    n_ok = n_fail = 0
    for name in names:
        if not selected(name, only):
            continue
        try:
            a = pd.read_parquet(f'{old}/{name}')
            b = pd.read_parquet(f'{new}/{name}')
        except Exception as e:
            print(f'{name}: MISSING {e}')
            n_fail += 1
            continue
        err = compare(a, b, names=('old', 'new'))
        if err is None and dtypes(a) != dtypes(b):
            err = f'DTYPE-MISMATCH old={dtypes(a)} new={dtypes(b)}'
        if err:
            print(f'{name}: {err}')
            n_fail += 1
            continue
        print(f'{name}: IDENTICAL rows={len(a)}')
        n_ok += 1
    print(f'== {n_ok} identical, {n_fail} differ ==')
    sys.exit(1 if n_fail else 0)


if __name__ == '__main__':
    main()
