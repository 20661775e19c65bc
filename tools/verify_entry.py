"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` in DuckDB over
the same sf dir, compare row count / schema / order-insensitive values.

Usage: python tools/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# the tables the oracles read (FROM/JOIN) — DuckDB views over sf_dir
TABLES = ['customer', 'orders', 'lineitem', 'events', 'documents']


def norm_value(v):
    # Deliberately NO Decimal normalization: the driver hashes raw
    # values, so '2.50' vs '2.5' (scale drift) must surface as FAIL.
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float):
        # FULL precision: bit-identical doubles format identically at
        # 17 significant digits, and anything less would hide real
        # engine drift the driver's raw-value hash rejects
        return '%.17g' % v
    if isinstance(v, bool):
        return int(v)
    return v


# DuckDB declared type -> Spark simpleString dtype. Width drift such as
# HUGEINT (int128) or DECIMAL(38,2)-vs-decimal(28,2) is invisible at the
# Python-value level (both fetch as int / Decimal('2.50')) but the
# driver hashes typed values, so declared types must line up too.
_DUCK_TO_SPARK = {
    'BIGINT': 'bigint', 'INTEGER': 'int', 'SMALLINT': 'smallint',
    # HUGEINT / unsigned ints have no Spark equivalent — distinct
    # markers so the drift message names the actual DuckDB type
    'TINYINT': 'tinyint', 'HUGEINT': 'hugeint (no spark equivalent)',
    'UBIGINT': 'ubigint (no spark equivalent)',
    'UHUGEINT': 'uhugeint (no spark equivalent)',
    'DOUBLE': 'double', 'FLOAT': 'float',
    'VARCHAR': 'string', 'BOOLEAN': 'boolean', 'DATE': 'date',
    'TIMESTAMP': 'timestamp', 'BLOB': 'binary',
}


def duck_dtype_to_spark(name):
    name = name.strip().upper()
    if name.startswith('DECIMAL'):
        return name.lower().replace(' ', '')
    return _DUCK_TO_SPARK.get(name, name.lower())


def dtype_mismatches(s_dtypes, o_cols, o_types):
    """Compare Spark dtypes with DuckDB declared types by column name.

    Complex (array/struct/map) types are skipped — their textual forms
    differ legitimately between engines; scalars must match exactly.
    """
    spark_by_col = dict(s_dtypes)
    out = []
    for col, duck_raw in zip(o_cols, o_types):
        duck = duck_dtype_to_spark(str(duck_raw))
        spark = spark_by_col.get(col)
        if spark is None:
            continue  # column-set mismatch is reported separately
        if any(t in spark for t in ('array', 'struct', 'map')):
            continue
        if '[' in duck or 'struct' in duck:
            continue
        if spark != duck:
            out.append('%s: spark=%s oracle=%s' % (col, spark, duck))
    return out


def norm_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_value(row[i]) for i in order) for row in rows]
    return sorted(columns), sorted(map(repr, out))


def main():
    import duckdb
    from yargy_spark.plans.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    unknown = sorted(only - set(qs))
    if unknown:
        # a typo'd name silently verifying nothing would report success
        print('unknown queries: %s' % unknown)
        sys.exit(2)

    spark = build_session(app='verify-entry', master='local[8]',
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel('ERROR')

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, t + '.parquet')
        if os.path.exists(path):
            con.execute(
                "CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_dtypes = sdf.dtypes
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print('%-22s SPARK ERROR: %s' % (name, str(exc)[:200]))
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print('%-22s rows-only: %d rows' % (name, len(s_rows)))
            continue
        try:
            rel = con.sql(sql)
            o_cols = list(rel.columns)
            o_types = [str(t) for t in rel.types]
            o_rows = rel.fetchall()
        except Exception as exc:
            print('%-22s ORACLE ERROR: %s' % (name, str(exc)[:200]))
            failures.append(name)
            continue
        sc, sr = norm_rows(s_cols, s_rows)
        oc, orr = norm_rows(o_cols, o_rows)
        ok_schema = sc == oc
        ok_count = len(sr) == len(orr)
        ok_vals = sr == orr
        bad_dtypes = dtype_mismatches(s_dtypes, o_cols, o_types)
        ok_types = not bad_dtypes
        status = ('OK' if (ok_schema and ok_count and ok_vals and ok_types)
                  else 'FAIL')
        print('%-22s %s  rows=%d/%d schema=%s values=%s dtypes=%s'
              % (name, status, len(sr), len(orr), ok_schema, ok_vals,
                 ok_types))
        if bad_dtypes:
            print('   dtype drift:', '; '.join(bad_dtypes))
        if status == 'FAIL':
            failures.append(name)
            if not ok_schema:
                print('   spark cols:', sc, '\n   oracle cols:', oc)
            if ok_schema:
                s_set, o_set = set(sr), set(orr)
                miss = [r for r in orr if r not in s_set][:3]
                extra = [r for r in sr if r not in o_set][:3]
                print('   missing:', miss)
                print('   extra:  ', extra)

    spark.stop()
    print('\n%d failures' % len(failures), failures)
    sys.exit(1 if failures else 0)


if __name__ == '__main__':
    main()
