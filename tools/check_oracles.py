"""Strict local mirror of the driver's t2 gate.

Runs queries() and oracle_sql() side by side on a parquet dir and compares
row count, column names, AND stringified cell values (so int64 123 vs
float64 123.0 — the class of bug that shipped red in round 2 — fails here
even though Python `123 == 123.0`).

Usage: python tools/check_oracles.py [sf_dir] [name ...]

The session has one core and one shuffle partition per CPU
($SPARK_GRAFT_CPUS, or the CPUs this process may run on) and 1 GB of
driver memory per CPU (2 to 8 GB).
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def _canon_cell(v):
    import numpy as np
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return '<null>'
    try:
        if pd.isna(v):
            return '<null>'
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return '[' + ','.join(_canon_cell(x) for x in v) + ']'
    return str(v)


def canon(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_canon_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def main():
    args = sys.argv[1:]
    sf_dir = '/root/testdata/sf0.001'
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or sorted(oracles)

    cpus = int(os.environ.get('SPARK_GRAFT_CPUS')
               or len(os.sched_getaffinity(0)))
    spark = (SparkSession.builder.master('local[{}]'.format(cpus))
             .config('spark.sql.shuffle.partitions', str(cpus))
             .config('spark.ui.enabled', 'false')
             .config('spark.ui.showConsoleProgress', 'false')
             .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
             .config('spark.driver.memory', '{}g'.format(min(8, max(2, cpus))))
             .getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW {} AS SELECT * FROM '{}/{}.parquet'".format(t, sf_dir, t))

    failed = []
    for name in names:
        if name not in oracles:
            print('%-28s NO ORACLE' % name)
            failed.append(name)
            continue
        try:
            spdf = queries[name](spark, sf_dir).toPandas()
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print('%-28s ERROR %s' % (name, str(e).split(chr(10))[0][:160]))
            failed.append(name)
            continue
        sc, sr = canon(spdf)
        oc, orows = canon(odf)
        if sc != oc:
            print('%-28s COLS  spark=%s oracle=%s' % (name, sc, oc))
            failed.append(name)
        elif len(sr) != len(orows):
            print('%-28s ROWS  spark=%d oracle=%d' % (name, len(sr), len(orows)))
            failed.append(name)
        elif sr != orows:
            diff = [(a, b) for a, b in zip(sr, orows) if a != b]
            print('%-28s VALUES %d differing; first: %s' % (name, len(diff), diff[:2]))
            failed.append(name)
        else:
            print('%-28s OK    (%d rows)' % (name, len(sr)))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == '__main__':
    main()
