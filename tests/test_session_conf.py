"""A public call leaves the session conf as it found it.

Per-call settings go through ``tuning.scoped_conf``, a writer option or
the plan; none may stay behind in the session, and a key that was unset
before the call is unset after it (writing the default back as an
explicit value changes what later sessions and queries inherit)."""
import os

import pytest


def _update_join(spark, tmp_path, sf_dir, monkeypatch):
    # strict mode runs the duplicate-key probe with AQE scoped off
    from rbql_spark.api import collect_result_rows, query_dataframe
    a = spark.createDataFrame([('1', 'us'), ('2', 'zz')], 'id string, cc string')
    b = spark.createDataFrame([('us', 'USA')], 'code string, name string')
    res = query_dataframe(spark, 'UPDATE a2 = b2 INNER JOIN b ON a2 == b1',
                          a, join_table=b)
    assert collect_result_rows(res) == [['1', 'USA'], ['2', 'zz']]


def _query_csv(spark, tmp_path, sf_dir, monkeypatch):
    from rbql_spark.api import query_csv
    src = tmp_path / 'in.csv'
    src.write_text('id,v\n1,a\n2,b\n3,c\n')
    out = tmp_path / 'out.csv'
    query_csv(spark, 'SELECT a.v WHERE int(a.id) > 1', str(src),
              output_path=str(out), with_headers=True)
    assert out.read_text() == 'v\nb\nc\n'


def _stream_source(spark, tmp_path):
    src = str(tmp_path / 'stream_src')
    spark.range(20).selectExpr('id', 'id % 7 AS k').write.parquet(src)
    return spark.readStream.schema('id long, k long').parquet(src), src


def _stream_to_memory(spark, tmp_path, sf_dir, monkeypatch):
    from rbql_spark.streaming.events import run_stream_to_memory
    from rbql_spark.tuning import dir_bytes
    stream, src = _stream_source(spark, tmp_path)
    q = run_stream_to_memory(stream.dropDuplicates(['k']), 'conf_probe_sink',
                             input_bytes=dir_bytes(src),
                             final_no_data_batch=False)
    try:
        assert spark.table('conf_probe_sink').count() == 7
    finally:
        q.stop()


def _stream_to_parquet(spark, tmp_path, sf_dir, monkeypatch):
    from rbql_spark.streaming.events import run_stream_to_parquet
    from rbql_spark.tuning import dir_bytes
    stream, src = _stream_source(spark, tmp_path)
    out = run_stream_to_parquet(stream.where('k = 0'), 'conf_probe_drain',
                                input_bytes=dir_bytes(src),
                                final_no_data_batch=False)
    assert sorted(r['id'] for r in out.collect()) == [0, 7, 14]


def _ivf_pq_compact(spark, tmp_path, sf_dir, monkeypatch):
    # the rewrite overwrites only the cells it writes (dynamic mode)
    from rbql_spark.ops.ann_index import (
        build_ivf_pq_index, compact_ivf_pq_index, delete_from_ivf_pq_index,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, 'embeddings.parquet'))
    path = str(tmp_path / 'idx')
    build_ivf_pq_index(emb, path, n_cells=4, m=4, ks=8)
    delete_from_ivf_pq_index(spark, path, [0, 1, 2])
    assert compact_ivf_pq_index(spark, path)['rows_removed'] == 3
    assert spark.read.parquet(path).count() == emb.count() - 3


def _dedup_clusters(spark, tmp_path, sf_dir, monkeypatch):
    # the distributed alternation rounds, not the driver finish
    from rbql_spark.ops import dedup as dd
    monkeypatch.setattr(dd, 'CC_DRIVER_FINISH_EDGES', 0)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6), (9, 3)],
                                  'doc_a long, doc_b long')
    assert sorted(tuple(r) for r in dd.dedup_clusters(pairs).collect()) == \
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (9, 1)]


@pytest.mark.parametrize('call', [
    _update_join, _query_csv, _stream_to_memory, _stream_to_parquet,
    _ivf_pq_compact, _dedup_clusters,
], ids=lambda f: f.__name__.lstrip('_'))
def test_public_call_leaves_session_conf(spark, tmp_path, sf_dir, monkeypatch,
                                         call):
    before = spark.conf.getAll
    call(spark, tmp_path, sf_dir, monkeypatch)
    assert spark.conf.getAll == before
