"""HDFS-backed vs RocksDB state-store drain times for the heaviest
stateful streaming gate (VERDICT r12 #7).

The invariance test (tests/test_streaming.py::test_stateful_ops_under_
rocksdb_state_store) proves results are provider-identical; this tool
puts a NUMBER on the provider swap so SCALING.md's "use RocksDB for
long-running state" recommendation ships with a measured cost at the
benchmark scale.  Interleaved reps of the streaming_minhash_neardup
gate drain (2-file replay, stateful band index) in ONE process; the
only varying factor is spark.sql.streaming.stateStore.providerClass.

Usage: python tools/ab_rocksdb.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

PROVIDER_KEY = 'spark.sql.streaming.stateStore.providerClass'
HDFS = ('org.apache.spark.sql.execution.streaming.state.'
        'HDFSBackedStateStoreProvider')
ROCKS = ('org.apache.spark.sql.execution.streaming.state.'
         'RocksDBStateStoreProvider')


def run_once(spark, sf_dir):
    t0 = time.time()
    df = entry.queries()['streaming_minhash_neardup'](spark, sf_dir)
    n = df.count()
    return time.time() - t0, n


def main():
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    cpus = os.environ.get('SPARK_GRAFT_CPUS', '32')
    spark = (SparkSession.builder.master('local[{}]'.format(cpus))
             .config('spark.sql.shuffle.partitions', '32')
             .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
             .config('spark.ui.enabled', 'false')
             .config('spark.driver.memory', '8g')
             .appName('ab_rocksdb').getOrCreate())
    spark.sparkContext.setLogLevel('ERROR')
    run_once(spark, sf_dir)  # warm replay dir + JVM + python workers
    results = {'hdfs': [], 'rocksdb': []}
    for rep in range(3):
        for tag, provider in (('hdfs', HDFS), ('rocksdb', ROCKS)):
            spark.conf.set(PROVIDER_KEY, provider)
            dt, n = run_once(spark, sf_dir)
            results[tag].append(round(dt, 2))
            print('rep', rep, tag.ljust(7), round(dt, 2), 's pairs', n,
                  flush=True)
    spark.conf.unset(PROVIDER_KEY)
    print('SUMMARY', {k: (min(v), sorted(v)) for k, v in results.items()})
    spark.stop()


if __name__ == '__main__':
    main()
