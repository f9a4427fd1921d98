"""Parquet tables: a path's schema is inferred once per file version, and a
read given the stored schema runs no Spark job."""
import os

import pytest

from rbql_spark.registry import ParquetDirRegistry, PathRegistry, read_parquet


def _jobs(spark, group, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup('', '')
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize('registry', ['dir', 'path'])
def test_second_get_table_runs_no_job(spark, tmp_path, registry):
    spark.range(5).selectExpr('id', 'id * 2 AS v').write.parquet(
        str(tmp_path / 't.parquet'))
    if registry == 'dir':
        reg, table_id = ParquetDirRegistry(str(tmp_path)), 't'
    else:
        reg, table_id = PathRegistry(), str(tmp_path / 't.parquet')
    first, n_first = _jobs(spark, 'reg_first_' + registry,
                           lambda: reg.get_table(spark, table_id))
    second, n_second = _jobs(spark, 'reg_second_' + registry,
                             lambda: reg.get_table(spark, table_id))
    assert (n_first >= 1, n_second) == (True, 0)
    assert second.header == first.header == ['id', 'v']
    assert (second.null_free, second.row_count) == (first.null_free, 5)
    assert sorted(second.df.collect()) == sorted(first.df.collect())


@pytest.mark.parametrize('table', ['lineitem', 'events', 'embeddings'])
def test_cached_schema_equals_inferred(spark, sf_dir, table):
    path = os.path.join(sf_dir, table + '.parquet')
    read_parquet(spark, path)
    cached, n = _jobs(spark, 'cached_' + table, lambda: read_parquet(spark, path))
    assert n == 0
    assert cached.schema == spark.read.parquet(path).schema


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    path = str(tmp_path / 'w.parquet')
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ['id']
    spark.range(3).selectExpr('id', "'x' AS extra").write.mode('overwrite') \
        .parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ['id', 'extra']
    assert sorted(df.collect()) == [(0, 'x'), (1, 'x'), (2, 'x')]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = str(tmp_path / 'f.parquet')
    pq.write_table(pa.table({'id': [1, 2]}), path)
    assert read_parquet(spark, path).columns == ['id']
    pq.write_table(pa.table({'id': [1, 2], 'extra': ['p', 'q']}), path)
    df = read_parquet(spark, path)
    assert df.columns == ['id', 'extra']
    assert sorted(df.collect()) == [(1, 'p'), (2, 'q')]


def test_inference_settings_key_the_schema(spark, tmp_path):
    # written without Spark's own schema metadata, so the footer's binary
    # type is read under the session's binaryAsString setting
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rbql_spark.tuning import scoped_conf
    path = str(tmp_path / 'bin.parquet')
    pq.write_table(pa.table({'b': pa.array([b'ab'], pa.binary())}), path)
    assert dict(read_parquet(spark, path).dtypes)['b'] == 'binary'
    with scoped_conf(spark, {'spark.sql.parquet.binaryAsString': 'true'}):
        assert dict(read_parquet(spark, path).dtypes)['b'] == 'string'
    assert dict(read_parquet(spark, path).dtypes)['b'] == 'binary'


def test_partitioned_directory_is_read_without_cache(spark, tmp_path):
    # subdirectories carry partition columns Spark discovers from their
    # names: such a directory is inferred on every read
    path = str(tmp_path / 'part.parquet')
    spark.range(4).selectExpr('id', 'id % 2 AS k').write.partitionBy('k') \
        .parquet(path)
    read_parquet(spark, path)
    df, n = _jobs(spark, 'partitioned', lambda: read_parquet(spark, path))
    assert n >= 1
    assert sorted(df.columns) == ['id', 'k']
