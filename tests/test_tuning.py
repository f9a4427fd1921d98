"""Input-size-based shuffle-partition advisor (r14 verdict #6)."""
import os

import pytest

from rbql_spark.tuning import (
    BYTES_PER_PARTITION, advise_shuffle_partitions, dir_bytes, leaf_bytes,
    scoped_conf,
)


def test_advisor_never_lowers_current(spark):
    cur = int(spark.conf.get('spark.sql.shuffle.partitions'))
    # tiny input: keep the session's count (sf0.1 behavior unchanged)
    assert advise_shuffle_partitions(spark, 10_000) == cur
    assert advise_shuffle_partitions(spark, None) == cur
    assert advise_shuffle_partitions(spark, 0) == cur


def test_advisor_scales_with_bytes(spark):
    cur = int(spark.conf.get('spark.sql.shuffle.partitions'))
    # a decade past the per-task target raises the count proportionally:
    # per-task bytes, not partition count, is the invariant (SCALING.md)
    big = 1000 * BYTES_PER_PARTITION
    assert advise_shuffle_partitions(spark, big) == max(cur, 1000)
    # expansion multiplies shuffled bytes (band/shingle explodes)
    assert advise_shuffle_partitions(spark, big, expansion=2.0) == \
        max(cur, 2000)
    # capped (runaway-estimate backstop)
    assert advise_shuffle_partitions(spark, 1 << 60) == 1 << 20


def test_advisor_allow_below_floors_small_streams(spark):
    # r16: the streaming-drain mode plans NARROWER than the session count
    # for sub-advisory sources (state-store open/commit is per partition
    # per batch and never AQE-coalesced), floored at STREAM_MIN_PARTITIONS
    from rbql_spark.tuning import STREAM_MIN_PARTITIONS
    cur = int(spark.conf.get('spark.sql.shuffle.partitions'))
    small = advise_shuffle_partitions(spark, 10_000, allow_below=True)
    assert small == min(cur, STREAM_MIN_PARTITIONS)
    # unknown size keeps the session count (the safe direction)
    assert advise_shuffle_partitions(spark, None, allow_below=True) == cur
    # the decade direction is unchanged: big sources still raise
    big = 1000 * BYTES_PER_PARTITION
    assert advise_shuffle_partitions(spark, big, allow_below=True) == 1000


def test_scoped_conf_restores(spark):
    key = 'spark.sql.shuffle.partitions'
    unset = 'spark.sql.streaming.noDataMicroBatches.enabled'
    prev = spark.conf.get(key)
    assert spark.conf.get(unset, None) is None
    with scoped_conf(spark, {key: 17, unset: 'false'}):
        assert spark.conf.get(key) == '17'
        assert spark.conf.get(unset) == 'false'
    assert spark.conf.get(key) == prev
    # a key that was unset is unset again, not set to its default
    assert spark.conf.get(unset, None) is None
    # the block's error propagates and the keys are still restored
    with pytest.raises(ValueError):
        with scoped_conf(spark, {key: 3}):
            raise ValueError('boom')
    assert spark.conf.get(key) == prev


def test_leaf_bytes_parquet(spark, tmp_path):
    from pyspark.sql import functions as F
    p = str(tmp_path / 'sz.parquet')
    spark.range(10_000).write.parquet(p)
    df = spark.read.parquet(p)
    est = leaf_bytes(df)
    disk = dir_bytes(p)
    assert est is not None and est > 0
    # Catalyst's estimate is the file-size sum (footer stats)
    assert 0.5 * disk <= est <= 2 * disk
    # what the job reads, not what it outputs: an aggregate over the scan
    # keeps the scan's bytes, and a self-join reads them twice
    assert leaf_bytes(df.groupBy().agg(F.sum('id'))) == est
    assert leaf_bytes(df.join(df.withColumnRenamed('id', 'j'),
                              F.col('id') == F.col('j'))) == 2 * est


def test_dir_bytes_counts_files(tmp_path):
    (tmp_path / 'a.bin').write_bytes(b'x' * 100)
    sub = tmp_path / 'sub'
    sub.mkdir()
    (sub / 'b.bin').write_bytes(b'y' * 50)
    assert dir_bytes(str(tmp_path)) == 150
    assert dir_bytes('/nonexistent/path/xyz') == 0
