import pytest

from rbql_spark import query_table
from rbql_spark.errors import RbqlParsingError

T1 = [
    ['5', 'haha', 'beta', '0'],
    ['-20', 'hoho', 'alpha', 'e2'],
    ['50', 'haha', 'gamma', '1'],
    ['20', 'yoyo', 'beta', '8'],
]


def test_select_all(spark):
    rows, header = query_table(spark, 'SELECT *', [r[:] for r in T1])
    assert rows == T1
    assert header is None


def test_select_columns_and_exprs(spark):
    rows, header = query_table(spark, 'SELECT a2, int(a1) * 2', [r[:] for r in T1])
    assert rows == [['haha', 10], ['hoho', -40], ['haha', 100], ['yoyo', 40]]


def test_where_filter(spark):
    rows, _ = query_table(spark, "SELECT a1 WHERE a3 == 'beta'", [r[:] for r in T1])
    assert rows == [['5'], ['20']]


def test_where_numeric(spark):
    rows, _ = query_table(spark, 'SELECT a1 WHERE int(a1) > 10', [r[:] for r in T1])
    assert rows == [['50'], ['20']]


def test_order_by(spark):
    rows, _ = query_table(spark, 'SELECT a1 ORDER BY int(a1)', [r[:] for r in T1])
    assert rows == [['-20'], ['5'], ['20'], ['50']]


def test_order_by_desc(spark):
    rows, _ = query_table(spark, 'SELECT a1 ORDER BY int(a1) DESC', [r[:] for r in T1])
    assert rows == [['50'], ['20'], ['5'], ['-20']]


def test_order_by_stability(spark):
    rows, _ = query_table(spark, 'SELECT a1, a2 ORDER BY a2', [r[:] for r in T1])
    # equal keys keep input order: both 'haha' rows in original order
    assert rows == [['5', 'haha'], ['50', 'haha'], ['-20', 'hoho'], ['20', 'yoyo']]


def test_top(spark):
    rows, _ = query_table(spark, 'SELECT TOP 2 a1', [r[:] for r in T1])
    assert rows == [['5'], ['-20']]


def test_limit(spark):
    rows, _ = query_table(spark, 'SELECT a1 LIMIT 3', [r[:] for r in T1])
    assert rows == [['5'], ['-20'], ['50']]


def test_top_with_order(spark):
    rows, _ = query_table(spark, 'SELECT TOP 2 a1 ORDER BY int(a1) DESC', [r[:] for r in T1])
    assert rows == [['50'], ['20']]


def test_distinct(spark):
    rows, _ = query_table(spark, 'SELECT DISTINCT a2', [r[:] for r in T1])
    assert rows == [['haha'], ['hoho'], ['yoyo']]


def test_distinct_count(spark):
    rows, _ = query_table(spark, 'SELECT DISTINCT COUNT a2', [r[:] for r in T1])
    assert rows == [[2, 'haha'], [1, 'hoho'], [1, 'yoyo']]


def test_nr_nf(spark):
    rows, _ = query_table(spark, 'SELECT NR, NF, a1', [r[:] for r in T1])
    assert rows == [[1, 4, '5'], [2, 4, '-20'], [3, 4, '50'], [4, 4, '20']]


def test_python_expressions_fallback(spark):
    rows, _ = query_table(spark, "SELECT a2[::-1], len(a2) * 'x'", [r[:] for r in T1])
    assert rows[0] == ['ahah', 'xxxx']


def test_string_methods(spark):
    rows, _ = query_table(spark, "SELECT a2.upper(), a3.startswith('b')", [r[:] for r in T1])
    assert rows == [['HAHA', True], ['HOHO', False], ['HAHA', False], ['YOYO', True]]


def test_ternary_and_boolean(spark):
    rows, _ = query_table(
        spark, "SELECT 'big' if int(a1) > 10 else 'small' WHERE a3 == 'beta' or a3 == 'gamma'",
        [r[:] for r in T1])
    assert rows == [['small'], ['big'], ['big']]


def test_like_function(spark):
    rows, _ = query_table(spark, "SELECT a2 WHERE like(a2, 'h%a')", [r[:] for r in T1])
    assert rows == [['haha'], ['haha']]


def test_headers_and_named_access(spark):
    rows, header = query_table(
        spark, "SELECT a.name, a['year'] WHERE a.year > 1800",
        [['Roosevelt', 1858, 'USA'], ['Napoleon', 1769, 'France'], ['Confucius', -551, 'China']],
        input_column_names=['name', 'year', 'country'])
    assert rows == [['Roosevelt', 1858]]
    assert header == ['name', 'year']


def test_output_header_rules(spark):
    rows, header = query_table(
        spark, "SELECT a.name, a.year * 2 AS double_year, 42",
        [['Roosevelt', 1858, 'USA']],
        input_column_names=['name', 'year', 'country'])
    assert header == ['name', 'double_year', 'col3']
    assert rows == [['Roosevelt', 3716, 42]]


def test_unknown_attr_column_error(spark):
    with pytest.raises(RbqlParsingError, match='Unable to find column'):
        query_table(spark, 'SELECT a.nope', [['x']], input_column_names=['name'])


def test_except(spark):
    rows, header = query_table(
        spark, 'SELECT * EXCEPT a1, a3', [r[:] for r in T1])
    assert rows == [['haha', '0'], ['hoho', 'e2'], ['haha', '1'], ['yoyo', '8']]


def test_pipe_chaining(spark):
    rows, _ = query_table(
        spark, "SELECT a1, a2 ORDER BY int(a1) | SELECT a2 WHERE NR <= 2",
        [r[:] for r in T1])
    assert rows == [['hoho'], ['haha']]


def test_unnest(spark):
    rows, _ = query_table(
        spark, "SELECT a1, UNNEST(a2.split(';'))",
        [['1', 'a;b'], ['2', 'c'], ['3', '']])
    assert rows == [['1', 'a'], ['1', 'b'], ['2', 'c'], ['3', '']]


def test_ragged_rows_safe_get(spark):
    rows, _ = query_table(spark, 'SELECT a3, NF', [['1', '2', '3'], ['x', 'y']])
    assert rows == [['3', 3], [None, 2]]


def test_order_by_null_key_matches_reference(spark):
    """Round-12: a None sort key is a runtime error in the reference
    (Python's sort compares it), never a silent NULLS-FIRST placement;
    clean keys sort identically.  Round-14: the reference's single-row
    accident (no comparison needed -> success) IS replicated when the
    source row count is statically known (in-memory table length)."""
    import os
    import sys

    import pytest

    from rbql_spark import query_table

    REF_PY = '/root/reference/rbql-py'
    if not os.path.isdir(REF_PY):
        pytest.skip('reference package not available')

    def run_ref(q, tbl):
        sys.path.insert(0, REF_PY)
        try:
            import rbql
            out, w = [], []
            rbql.query_table(q, [list(r) for r in tbl], out, w)
            return ('ok', out)
        except Exception as e:
            return ('err', str(e))
        finally:
            sys.path.remove(REF_PY)

    cases = [
        ("SELECT a1 ORDER BY a2", [[1, 'x'], [2, None], [3, 'y']]),
        ("SELECT a1 ORDER BY a2 DESC", [[1, 'x'], [2, None]]),
        ("SELECT a1 ORDER BY a2", [[1, 5], [2, None]]),
        ("SELECT a1 ORDER BY a2", [[1, None], [2, None]]),
        ("SELECT a1 ORDER BY a2", [[2, 'y'], [1, 'x'], [3, 'z']]),
        # round-14: the single-row accident — sorted() of one element
        # does no comparison, so both engines SUCCEED on a None key
        ("SELECT a1, a2 ORDER BY a2", [['x', None]]),
        ("SELECT a1, a2 ORDER BY a2 DESC", [['x', None]]),
    ]
    for q, tbl in cases:
        ref = run_ref(q, tbl)
        try:
            rows, _ = query_table(spark, q, [list(r) for r in tbl])
            got = ('ok', rows)
        except Exception as e:
            got = ('err', str(e))
        assert got[0] == ref[0], (q, tbl, got, ref)
        if ref[0] == 'ok':
            assert got[1] == ref[1], (q, tbl, got, ref)
        else:
            assert 'NoneType' in got[1], (q, tbl, got, ref)


@pytest.mark.parametrize('names', [['k', 'K', 'v'], ['k', 'k.x', 'v`w']],
                         ids=['duplicate', 'quoted'])
def test_input_column_names_bind_by_position(spark, names):
    # a DataFrame's columns may repeat a name (case-insensitively) or hold
    # characters that need quoting; binding is by position either way
    from rbql_spark.api import collect_result_rows, query_dataframe
    df = spark.createDataFrame([(1, 2, 'x'), (3, 4, 'y')],
                               'c0 long, c1 long, c2 string').toDF(*names)
    res = query_dataframe(spark, 'SELECT a3, a1 + a2 WHERE a1 > 1 ORDER BY a2', df)
    assert collect_result_rows(res) == [['y', 7]]
