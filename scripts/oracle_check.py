#!/usr/bin/env python3
"""Compare a `graft.Verify` dump against its DuckDB oracles.

Usage:
    sbt -batch "runMain graft.Verify <sf_dir> <verify_out>"
    python3 scripts/oracle_check.py <verify_out> <sf_dir>

Every entry in `<verify_out>/oracle_sql.json` is run in DuckDB over the
parquet tables of `<sf_dir>` and compared, as a multiset of rows with
columns in name order, against the entry's dump `<verify_out>/<name>.parquet`.
Dumps with no oracle (hash/approx/stub entries) are "rows-only" and only
need at least one row.

Prints one line per entry and a MATCH/MISMATCH summary. Exits 1 on any
MISMATCH, any oracle entry without a dump, or any empty rows-only dump.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ['documents', 'lineitem', 'orders', 'customer', 'supplier', 'part',
          'nation', 'region', 'events', 'embeddings']


def canonical(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
    # every oracle is keyed under both <name> and <name>.parquet
    names = sorted(k for k in oracles if not k.endswith('.parquet'))
    dumps = {os.path.basename(p)[:-len('.parquet')]
             for p in glob.glob(os.path.join(out_dir, '*.parquet'))}

    match, mismatch, missing, empty = [], [], [], []
    for name in names:
        path = os.path.join(out_dir, f'{name}.parquet')
        if name not in dumps:
            missing.append(name)
            print(name, 'MISSING')
            continue
        s = canonical(pq.read_table(path).to_pandas())
        d = canonical(con.execute(oracles[name]).df())
        ok = s.shape == d.shape and \
            (s.astype(str).values == d.astype(str).values).all()
        (match if ok else mismatch).append(name)
        print(name, s.shape, 'MATCH' if ok else 'MISMATCH')

    rows_only = sorted(dumps - set(names))
    for name in rows_only:
        n = pq.read_table(os.path.join(out_dir, f'{name}.parquet')).num_rows
        if n == 0:
            empty.append(name)
        print(name, f'rows-only {n}', 'OK' if n else 'EMPTY')

    print(f'{len(match)}/{len(names)} MATCH, {len(mismatch)} MISMATCH, '
          f'{len(missing)} missing; {len(rows_only) - len(empty)}/'
          f'{len(rows_only)} rows-only non-empty')
    for label, bad in (('MISMATCH', mismatch), ('missing', missing),
                       ('empty rows-only', empty)):
        if bad:
            print(f'{label}: {", ".join(bad)}')
    return 1 if mismatch or missing or empty else 0


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
