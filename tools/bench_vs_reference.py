"""Head-to-head single-node throughput: rbql_spark vs the reference RBQL.

Reproduces BENCH_VS_REFERENCE.md.  Table shape mirrors the reference's own
speed test (/root/reference/test/test_csv_utils.py:979-989): price int-str
10-20, item in 4 herbs, quoted CSV.  Both sides run query -> CSV file.

Usage: python tools/bench_vs_reference.py [n_rows ...]   (default 300000 3000000)
"""

import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, '/root/reference/rbql-py')

QUERIES = [
    ('filter_project', 'select a1, a2 where int(a1) > 15'),
    ('group_agg', 'select a2, COUNT(1), SUM(a1), MAX(a1) group by a2'),
    ('order_top', 'select TOP 1000 a1, a2 order by int(a1) desc'),
]


def gen_table(path: str, n_rows: int, seed: int = 42) -> None:
    rnd = random.Random(seed)
    herbs = ['parsley', 'sage', 'rosemary', 'thyme']
    with open(path, 'w') as dst:
        for _ in range(n_rows):
            dst.write('"{}","{}"\n'.format(rnd.randint(10, 20), rnd.choice(herbs)))


def run_reference(query: str, inp: str, out: str) -> float:
    import rbql
    warnings: list = []
    t0 = time.perf_counter()
    rbql.query_csv(query, inp, ',', 'quoted', out, ',', 'quoted', 'utf-8',
                   warnings, with_headers=False)
    return time.perf_counter() - t0


def run_spark(spark, query: str, inp: str, out: str) -> float:
    from rbql_spark.api import query_csv
    from rbql_spark.sources.csv import write_csv
    t0 = time.perf_counter()
    res = query_csv(spark, query, inp, delim=',', policy='quoted')
    write_csv(res, out, delim=',', policy='quoted')
    return time.perf_counter() - t0


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [300_000, 3_000_000]
    from pyspark.sql import SparkSession
    cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    spark = (SparkSession.builder.master('local[{}]'.format(cpus))
             .config('spark.sql.shuffle.partitions', str(cpus))
             .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
             .config('spark.ui.enabled', 'false')
             .config('spark.driver.memory', '16g').getOrCreate())
    spark.sparkContext.setLogLevel('ERROR')
    # warm JVM + python workers once; the reference pays no comparable startup
    spark.range(1000).selectExpr('sum(id)').collect()

    tmp = tempfile.mkdtemp(prefix='rbql_bench_')
    for n in sizes:
        inp = os.path.join(tmp, 'in_{}.csv'.format(n))
        gen_table(inp, n, seed=42 if n <= 300_000 else 7)
        print('== {} rows =='.format(n))
        for name, q in QUERIES:
            out_r = os.path.join(tmp, 'r_{}_{}.csv'.format(name, n))
            out_s = os.path.join(tmp, 's_{}_{}.csv'.format(name, n))
            # both sides: min-of-3 with a discarded warmup run — the first
            # spark run of a query shape pays whole-stage-codegen compile +
            # python-worker spin-up (~1-2 s at this size, pure one-time
            # cost), which at 300k rows is larger than the query itself and
            # made earlier rounds' numbers swing 0.4x-1.4x run to run
            run_spark(spark, q, inp, out_s)
            t_ref = min(run_reference(q, inp, out_r) for _ in range(3))
            t_s = min(run_spark(spark, q, inp, out_s) for _ in range(3))
            same = open(out_r, 'rb').read() == open(out_s, 'rb').read()
            print('{:15s} ref={:6.2f}s spark={:6.2f}s speedup={:4.2f}x identical={}'
                  .format(name, t_ref, t_s, t_ref / t_s, same))
    spark.stop()


if __name__ == '__main__':
    main()
