"""The benchmark's workloads: which ops they run and how outputs are checked.

An op is one public call chain into rbql_spark that ends in a terminal
action.  ``run(kind, tracer, verify)`` executes one op, opening a tracer
span around each call into a layer when a tracer is given.  With ``verify`` it
compares the output against DuckDB over the same input files and raises
``Mismatch``; it returns a fingerprint of the output the timed path
produces (or None when that path discards the output), which the harness
compares across repetitions of the same op kind.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import inspect
import math
import os

import duckdb

from rbql_spark.api import collect_result_rows, query_csv, query_dataframe
from rbql_spark.binding import TableHandle
from rbql_spark.engine import EngineOptions, run_query
from rbql_spark.registry import (
    ParquetDirRegistry, PathRegistry, parquet_null_free_columns,
)
from rbql_spark.sources.csv import read_csv, write_csv

# rbql_* gates of __spark_entry__.queries() in the rbql_parquet mix: seven of
# the twenty-four, one per query shape (filter, TOP, group-agg with MEDIAN
# and VARIANCE, pipe, shuffle join, UPDATE with a broadcast join, TOP in
# the JS dialect), so that a cold pass and three timed passes fit the
# run-time budget.  With the two gates below the mix has nine kinds: an odd
# count, so the median and the tail op of three passes each sit in the
# middle of one kind's latencies rather than between two kinds.
RBQL_GATES = [
    'rbql_select_where', 'rbql_select_top_order', 'rbql_group_agg',
    'rbql_pipe_chain', 'rbql_multikey_join', 'rbql_update_join',
    'rbql_js_filter_order',
]
# Pipeline-operator gates, so the ops and streaming layers are measured.
CURATION_GATES = ['text_token_stats', 'streaming_exact_dedup']

# Results up to this many rows are fetched to the driver; larger ones go to
# Spark's noop sink.
COLLECT_MAX_ROWS = 1000

_TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
           'lineitem', 'events', 'documents']


class Mismatch(Exception):
    """An op's output differs from the reference result."""


def _cell(v) -> str:
    """Engine-neutral text of one value: floats to 9 significant digits
    (the engines sum in different orders), ints exactly."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return '<null>'
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) or type(v).__name__ == 'Decimal':
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 1e15 else '%.9g' % f
    if isinstance(v, (list, tuple)):
        return '[' + ','.join(_cell(x) for x in v) + ']'
    return str(v)


def canon(names, rows) -> tuple:
    """(sorted column names, sorted rows with columns in that order)."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    return (tuple(names[i] for i in order),
            tuple(sorted(tuple(_cell(r[i]) for i in order) for r in rows)))


def fingerprint(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


@contextlib.contextmanager
def span(tracer, name):
    if tracer is None:
        yield
    else:
        with tracer.span(name):
            yield


class ParquetWorkload:
    """RBQL gate queries over parquet tables through api.query_dataframe,
    plus two pipeline-operator gates built by __spark_entry__.queries()."""

    name = 'rbql_parquet'
    first = 'rbql_group_agg'
    kinds = RBQL_GATES + CURATION_GATES

    def __init__(self, spark, data_dir: str):
        import __spark_entry__ as entry
        self.spark, self.dir = spark, data_dir
        builders, oracles = entry.queries(), entry.oracle_sql()
        # the gate's query text and engine options, read from its closure
        self.gates = {k: inspect.getclosurevars(inspect.unwrap(builders[k])).nonlocals
                      for k in RBQL_GATES}
        self.builders = {k: builders[k] for k in CURATION_GATES}
        con = duckdb.connect()
        for t in _TABLES:
            con.execute("CREATE VIEW {} AS SELECT * FROM '{}'".format(
                t, os.path.join(data_dir, t + '.parquet')))
        self.expected = {}
        for k in self.kinds:
            cur = con.execute(oracles[k])
            self.expected[k] = canon([d[0] for d in cur.description],
                                     cur.fetchall())
        con.close()

    def collects(self, kind: str) -> bool:
        return kind in self.gates and \
            len(self.expected[kind][1]) <= COLLECT_MAX_ROWS

    def run(self, kind: str, tracer=None, verify: bool = False):
        got = (self._gate(kind, tracer, verify) if kind in self.gates
               else self._operator(kind, tracer, verify))
        if verify and got != self.expected[kind]:
            raise Mismatch('differs from the reference: {} rows, expected {}'
                           .format(len(got[1]), len(self.expected[kind][1])))
        return fingerprint(got) if got is not None else None

    def _gate(self, kind, tracer, verify):
        g = self.gates[kind]
        path = os.path.join(self.dir, g['table'] + '.parquet')
        handle = TableHandle(df=self.spark.read.parquet(path),
                             null_free=parquet_null_free_columns(path))
        handle.header = list(handle.df.columns)
        opts = EngineOptions(strict_checks=g['strict'],
                             broadcast_join=g['broadcast'],
                             dialect=g['dialect'])
        with span(tracer, 'engine.build'):
            res = query_dataframe(self.spark, g['query'], handle,
                                  registry=ParquetDirRegistry(self.dir),
                                  options=opts)
        try:
            if tracer is not None:
                tracer.add('engine.fallback_exprs',
                           res.telemetry.get('fallback_count', 0))
            if self.collects(kind):
                with span(tracer, 'api.collect'):
                    rows = collect_result_rows(res)
                if tracer is not None:
                    tracer.add('api.collect_rows', len(rows))
                return canon(res.out_names, rows)
            df = res.display_df()
            if verify:
                return canon(df.columns, df.collect())
            with span(tracer, 'spark.exec'):
                df.write.format('noop').mode('overwrite').save()
            return None
        finally:
            res.release()

    def _operator(self, kind, tracer, verify):
        with span(tracer, 'ops.build'):
            df = self.builders[kind](self.spark, self.dir)
        if verify:
            return canon(df.columns, df.collect())
        with span(tracer, 'spark.exec'):
            df.write.format('noop').mode('overwrite').save()
        return None


# kind -> (file, has header, query, user_init_code, DuckDB SQL, ordered).
# Five kinds (a group-by on each file, filter+sort, TOP, a UDF): with two
# timed passes the median op sits in the middle kind's latencies.
# ``{t}`` in the SQL is the input file as DuckDB reads it.  Ordered outputs
# (sort keys are unique) must match the reference row for row and are
# fingerprinted byte for byte; the others are compared as sorted rows.
_BAND_UDF = "def band(q):\n    return 'hi' if int(q) >= 50 else 'lo'\n"
CSV_OPS = {
    'speed_group': (
        'speed.csv', False, 'SELECT a2, COUNT(*) GROUP BY a2', '',
        'SELECT column1, count(*) FROM {t} GROUP BY 1', False),
    'wide_group': (
        'wide.csv', True,
        'SELECT a.city, a.grade, COUNT(*) AS n, SUM(int(a.amount)) AS total '
        'GROUP BY a.city, a.grade', '',
        'SELECT city, grade, count(*), sum(CAST(amount AS INT)) FROM {t} '
        'GROUP BY 1, 2', False),
    'wide_filter_sort': (
        'wide.csv', True,
        "SELECT a.id, a.item, a.note WHERE a.note == 'x, y' "
        'ORDER BY int(a.id) DESC', '',
        "SELECT id, item, note FROM {t} WHERE note = 'x, y' "
        'ORDER BY CAST(id AS INT) DESC', True),
    'wide_top': (
        'wide.csv', True,
        'SELECT TOP 50 a.id, a.city, a.amount '
        'ORDER BY int(a.amount), int(a.id) DESC', '',
        'SELECT id, city, amount FROM {t} ORDER BY CAST(amount AS INT) DESC, '
        'CAST(id AS INT) DESC LIMIT 50', True),
    'wide_udf': (
        'wide.csv', True,
        'SELECT a.grade, band(a.qty) AS band, COUNT(*) AS n '
        'GROUP BY a.grade, band(a.qty)', _BAND_UDF,
        "SELECT grade, CASE WHEN CAST(qty AS INT) >= 50 THEN 'hi' ELSE 'lo' "
        'END, count(*) FROM {t} GROUP BY 1, 2', False),
}


class CsvWorkload:
    """api.query_csv from a CSV file to a CSV file, the reference's own use.
    A traced pass makes the same calls query_csv makes (read_csv, run_query,
    write_csv), so each can be timed on its own."""

    name = 'rbql_csv'
    first = 'speed_group'
    kinds = list(CSV_OPS)

    def __init__(self, spark, data_dir: str, out_dir: str):
        self.spark, self.dir, self.out_dir = spark, data_dir, out_dir
        con = duckdb.connect()
        self.expected = {}
        for kind, (fname, header, _, _, sql, ordered) in CSV_OPS.items():
            src = "read_csv('{}', delim=',', quote='\"', escape='\"', " \
                  "header={}, all_varchar=true)".format(
                      os.path.join(data_dir, fname), str(header).lower())
            rows = [tuple(_cell(v) for v in r)
                    for r in con.execute(sql.format(t=src)).fetchall()]
            self.expected[kind] = tuple(rows if ordered else sorted(rows))
        con.close()

    def run(self, kind: str, tracer=None, verify: bool = False):
        fname, header, query, init, _, ordered = CSV_OPS[kind]
        src = os.path.join(self.dir, fname)
        out = os.path.join(self.out_dir, kind + '.csv')
        with contextlib.suppress(FileNotFoundError):
            os.remove(out)
        if tracer is None:
            query_csv(self.spark, query, src, output_path=out,
                      with_headers=header, user_init_code=init)
        else:
            self._traced(src, out, header, query, init, tracer)
            tracer.add('csv.in_mb', os.path.getsize(src) / 1048576.0)
            tracer.add('csv.out_mb', os.path.getsize(out) / 1048576.0)
        with open(out, 'rb') as f:
            data = f.read()
        if verify:
            rows = [tuple(r) for r in
                    csv.reader(data.decode().splitlines())][1 if header else 0:]
            got = tuple(rows if ordered else sorted(rows))
            if got != self.expected[kind]:
                raise Mismatch('differs from the reference: {} rows, '
                               'expected {}'.format(len(got),
                                                    len(self.expected[kind])))
        if not ordered:
            data = b'\n'.join(sorted(data.splitlines()))
        return hashlib.sha256(data).hexdigest()

    def _traced(self, src, out, header, query, init, tracer):
        with tracer.span('csv.read'):
            handle = read_csv(self.spark, src, with_headers=header)
        reg = PathRegistry(main_table_dir=self.dir,
                           csv_options={'with_headers': header})
        with tracer.span('engine.build'):
            res = run_query(self.spark, query, input_handle=handle,
                            registry=reg,
                            options=EngineOptions(user_init_code=init))
        try:
            tracer.add('engine.fallback_exprs',
                       res.telemetry.get('fallback_count', 0))
            with tracer.span('csv.write'):
                write_csv(res, out)
        finally:
            res.release()
