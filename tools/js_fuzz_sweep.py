"""One-off wide differential sweep of the JS dialect against the live
rbql-js (beyond the suite's pinned seed ranges): every generator class
from tests/test_js_differential.py, fresh seed bases, value + outcome +
error-record-number comparison per query.

Round-14 history: a 55-seed sweep caught the like()-coercion divergence
(seed 20004 — JS like() is RegExp.test, which ToStrings its operand;
we routed to the Python re.match implementation), and the suite's own
seed 6005 caught the `+` concat-vs-numeric translator bug.  After both
fixes a 180-seed sweep (40 nulls, 40 typed, 20 each select/agg/update/
join) ran clean.  Re-run with new BASE offsets after translator changes.

Usage: python tools/js_fuzz_sweep.py [base_offset]
"""
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), 'tests'))

from pyspark.sql import SparkSession  # noqa: E402

import test_js_differential as t  # noqa: E402


def main():
    offset = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    spark = (SparkSession.builder.master('local[4]')
             .config('spark.sql.shuffle.partitions', '4')
             .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
             .config('spark.ui.enabled', 'false').getOrCreate())
    spark.sparkContext.setLogLevel('ERROR')
    fails = 0
    for cls, base, mk_q, mk_t, join in [
            ('nulls', 70000, t.make_null_query, t.make_null_table, False),
            ('select', 80000, t.make_query, t.make_table, False),
            ('typed', 90000, t.make_query_typed, t.make_typed_table, False),
            ('agg', 100000, t.make_agg_query, t.make_table, False),
            ('update', 110000, t.make_update_query, t.make_table, False),
            ('join', 120000, t.make_join_query, t.make_table, True)]:
        n = 40 if cls in ('nulls', 'typed') else 20
        for seed in range(n):
            try:
                t._run_seed(spark, base + offset + seed, mk_q, mk_t,
                            with_join=join)
            except AssertionError as e:
                fails += 1
                print('FAIL {} seed {}:'.format(cls, base + offset + seed))
                print(str(e)[:1200])
        print(cls, 'done', flush=True)
    print('sweep complete, failures:', fails)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == '__main__':
    main()
