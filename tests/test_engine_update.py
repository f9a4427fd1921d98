import pytest

from rbql_spark import query_table
from rbql_spark.errors import RbqlParsingError, RbqlRuntimeError

T1 = [
    ['5', 'haha', 'beta'],
    ['-20', 'hoho', 'alpha'],
    ['50', 'haha', 'gamma'],
]


def test_update_all_rows(spark):
    rows, _ = query_table(spark, "UPDATE a2 = 'X'", [r[:] for r in T1])
    assert rows == [['5', 'X', 'beta'], ['-20', 'X', 'alpha'], ['50', 'X', 'gamma']]


def test_update_with_where(spark):
    rows, _ = query_table(spark, "UPDATE a1 = int(a1) * 10 WHERE a2 == 'haha'",
                          [r[:] for r in T1])
    # the reference assigns the REAL typed value into the cell (safe_set,
    # rbql_engine.py:260-264): updated rows carry ints, untouched rows
    # keep their original strings — the column becomes mixed per-cell
    assert rows == [[50, 'haha', 'beta'], ['-20', 'hoho', 'alpha'], [500, 'haha', 'gamma']]


def test_update_emits_every_row_in_order(spark):
    rows, _ = query_table(spark, "UPDATE a3 = a3.upper() WHERE a3.startswith('b')",
                          [r[:] for r in T1])
    assert rows == [['5', 'haha', 'BETA'], ['-20', 'hoho', 'alpha'], ['50', 'haha', 'gamma']]


def test_update_rhs_uses_original_values(spark):
    rows, _ = query_table(spark, 'UPDATE a1 = a2, a2 = a1', [['1', '2', 'z']])
    assert rows == [['2', '1', 'z']]


def test_update_header_preserved(spark):
    rows, header = query_table(spark, "UPDATE a.age = a.age + 1",
                               [['alice', 30]], input_column_names=['name', 'age'])
    assert rows == [['alice', 31]]
    assert header == ['name', 'age']


def test_update_with_join(spark):
    rows, _ = query_table(
        spark, "UPDATE a2 = b2 INNER JOIN b ON a2 == b1",
        [['1', 'us'], ['2', 'zz']], join_table=[['us', 'USA']])
    assert rows == [['1', 'USA'], ['2', 'zz']]


def test_update_join_multiple_matches_error(spark):
    with pytest.raises(RbqlRuntimeError):
        query_table(spark, 'UPDATE a2 = b2 INNER JOIN b ON a2 == b1',
                    [['1', 'us']], join_table=[['us', 'USA'], ['us', 'America']])


def test_update_unknown_field_rejected(spark):
    # reference: a9 beyond the record width is a RUNTIME error at the first
    # record the update applies to (safe_set, rbql_engine.py:260-264)
    with pytest.raises(RbqlRuntimeError, match='No "a9" field at record 1'):
        query_table(spark, 'UPDATE a9 = 1', [['1', '2']])
    with pytest.raises(RbqlParsingError):
        query_table(spark, 'UPDATE a.nope = 1', [['1', '2']], input_column_names=['x', 'y'])


def test_update_order_by_rejected(spark):
    with pytest.raises(RbqlParsingError):
        query_table(spark, 'UPDATE a1 = 1 ORDER BY a2', [['1', '2']])


def test_update_join_unreferenced_b_dup_ok(spark):
    # duplicate B keys that no A record references are legal (the reference
    # errors only at lookup time, PROCESS_UPDATE_JOIN rbql_engine.py:682-697)
    rows, _ = query_table(
        spark, "UPDATE a2 = b2 INNER JOIN b ON a2 == b1",
        [['1', 'us'], ['2', 'zz']],
        join_table=[['us', 'USA'], ['fr', 'France'], ['fr', 'FRA']])
    assert rows == [['1', 'USA'], ['2', 'zz']]


def test_update_join_dup_error_reports_first_record(spark):
    # record numbering: the FIRST offending A record in input order
    with pytest.raises(RbqlRuntimeError, match='At record 2, Details: More than one record'):
        query_table(spark, 'UPDATE a2 = b2 INNER JOIN b ON a2 == b1',
                    [['1', 'zz'], ['2', 'us'], ['3', 'us']],
                    join_table=[['us', 'USA'], ['us', 'America']])


def test_nu_two_phase_matches_sequential_truth(spark, tmp_path):
    """The two-phase NU counter must equal the sequential running count
    on a multi-partition mid-size table (the plan-level test asserts no
    single-partition window; this asserts the VALUES)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from rbql_spark.api import query_dataframe, collect_result_rows
    from rbql_spark.binding import TableHandle

    n = 20_000
    pdf = pd.DataFrame({'k': range(1, n + 1),
                        'v': [(i * 37) % 100 for i in range(n)]})
    src = str(tmp_path / 'nu_src.parquet')
    spark.createDataFrame(pdf).repartition(8).write.parquet(src)
    df = spark.read.parquet(src)
    handle = TableHandle(df=df, header=list(df.columns))
    res = query_dataframe(spark, 'UPDATE a.v = NU WHERE a.v > 50', handle)
    rows = collect_result_rows(res)
    # replay sequentially in input order (rows come back in input order)
    nu = 0
    for k, v in rows:
        orig = ((k - 1) * 37) % 100
        if orig > 50:
            nu += 1
            assert v == nu, 'row k={}: got {}, want {}'.format(k, v, nu)
        else:
            assert v == orig
    assert nu > 0


def test_nu_on_empty_table(spark):
    # zero rows: the two-phase counter's offsets pass sees no partitions
    # and must not error (reference: zero records, empty output)
    from rbql_spark import query_table
    rows, _ = query_table(spark, 'UPDATE a1 = NU WHERE a2 == "x"', [])
    assert rows == []


def test_nu_query_releases_pinned_caches(spark):
    """r14 verdict #5: the UPDATE…NU running-count pins a range-partitioned
    frame for cross-job numbering stability; the eager query_table path
    must unpersist it at its terminal action (StageResult.release) rather
    than leaning on LRU eviction.  Asserted via the JVM's persistent-RDD
    map: no NEW entry survives the query."""
    from rbql_spark import query_table

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return set(jmap.keySet().toArray())

    before = persistent_ids()
    table = [[i, 'x' if i % 3 else 'y'] for i in range(1, 201)]
    rows, _ = query_table(spark, 'UPDATE a1 = NU WHERE a2 == "x"', table)
    # correctness unchanged: NU counts matching records sequentially
    nu = 0
    for orig, (got, flag) in zip(table, rows):
        if flag == 'x':
            nu += 1
            assert got == nu
    after = persistent_ids()
    leaked = after - before
    assert not leaked, 'query left pinned RDDs behind: {}'.format(leaked)


def test_update_join_dup_error_fires_on_count_only(spark):
    from rbql_spark.api import query_dataframe
    a = spark.createDataFrame([('1', 'zz'), ('2', 'us'), ('3', 'fr')], 'id string, cc string')
    b = spark.createDataFrame([('us', 'USA'), ('us', 'America')], 'code string, name string')
    with pytest.raises(Exception, match='More than one record in UPDATE query matched'):
        res = query_dataframe(spark, 'UPDATE a2 = b2 INNER JOIN b ON a2 == b1',
                              a, join_table=b)
        res.display_df().count()


def test_update_join_dup_error_fires_before_where(spark):
    # the reference looks the key up before it evaluates WHERE, so a
    # record the WHERE excludes still fails on a duplicate match
    with pytest.raises(RbqlRuntimeError, match='At record 2, Details: More than one record'):
        query_table(spark, "UPDATE a2 = b2 INNER JOIN b ON a2 == b1 WHERE a1 != '2'",
                    [['1', 'zz'], ['2', 'us'], ['3', 'fr']],
                    join_table=[['us', 'USA'], ['us', 'America'], ['fr', 'France']])


def test_update_join_dup_error_first_record_with_nr_referenced(spark):
    # NR referenced: records are numbered densely; the error still names
    # the first offending record, whichever partition's task fails first
    a = [[str(i), 'zz'] for i in range(1, 9)]
    a[2][1] = a[6][1] = 'us'
    with pytest.raises(RbqlRuntimeError, match='At record 3, Details: More than one record'):
        query_table(spark, 'UPDATE a1 = str(NR) INNER JOIN b ON a2 == b1', a,
                    join_table=[['us', 'USA'], ['us', 'America']])
