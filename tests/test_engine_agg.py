import pytest

from rbql_spark import query_table
from rbql_spark.errors import RbqlParsingError, RbqlRuntimeError

T1 = [
    ['5', 'haha', 'beta'],
    ['-20', 'hoho', 'alpha'],
    ['50', 'haha', 'gamma'],
    ['20', 'yoyo', 'beta'],
    ['10', 'haha', 'beta'],
]


def test_count_group_by(spark):
    rows, _ = query_table(spark, 'SELECT a2, COUNT(1) GROUP BY a2', [r[:] for r in T1])
    assert rows == [['haha', 3], ['hoho', 1], ['yoyo', 1]]


def test_count_star(spark):
    rows, _ = query_table(spark, 'SELECT a2, COUNT(*) GROUP BY a2', [r[:] for r in T1])
    assert rows == [['haha', 3], ['hoho', 1], ['yoyo', 1]]


def test_sum_min_max_numeric_coercion(spark):
    rows, _ = query_table(spark, 'SELECT a2, SUM(a1), MIN(a1), MAX(a1) GROUP BY a2',
                          [r[:] for r in T1])
    assert rows == [['haha', 65.0, 5, 50], ['hoho', -20, -20, -20], ['yoyo', 20, 20, 20]]


def test_avg_median_variance(spark):
    rows, _ = query_table(spark, 'SELECT AVG(a1), MEDIAN(a1), VARIANCE(a1)',
                          [['1'], ['2'], ['3'], ['4']])
    assert rows[0][0] == pytest.approx(2.5)
    assert rows[0][1] == pytest.approx(2.5)
    assert rows[0][2] == pytest.approx(1.25)


def test_global_aggregate_no_group(spark):
    rows, _ = query_table(spark, 'SELECT COUNT(1), SUM(a1)', [r[:] for r in T1])
    assert rows == [[5, 65.0]]


def test_global_aggregate_empty_input_emits_nothing(spark):
    rows, _ = query_table(spark, 'SELECT COUNT(1)', [])
    assert rows == []


def test_any_value_first_seen(spark):
    rows, _ = query_table(spark, 'SELECT a2, ANY_VALUE(a1) GROUP BY a2', [r[:] for r in T1])
    assert rows == [['haha', '5'], ['hoho', '-20'], ['yoyo', '20']]


def test_array_agg_input_order(spark):
    rows, _ = query_table(spark, 'SELECT a2, ARRAY_AGG(a1) GROUP BY a2', [r[:] for r in T1])
    assert rows == [['haha', ['5', '50', '10']], ['hoho', ['-20']], ['yoyo', ['20']]]


def test_array_agg_post_proc(spark):
    rows, _ = query_table(spark, 'SELECT a2, ARRAY_AGG(int(a1), lambda v: sorted(v)[:2]) GROUP BY a2',
                          [r[:] for r in T1])
    assert rows == [['haha', [5, 10]], ['hoho', [-20]], ['yoyo', [20]]]


def test_mad_max_polymorphism_aggregate(spark):
    rows, _ = query_table(spark, 'SELECT max(a1) GROUP BY None', [r[:] for r in T1])
    assert rows == [[50]]


def test_mad_max_polymorphism_builtin(spark):
    rows, _ = query_table(spark, 'SELECT max(int(a1), 15)', [['5'], ['30']])
    assert rows == [[15], [30]]


def test_group_key_expression(spark):
    rows, _ = query_table(spark, 'SELECT int(a1) % 2, COUNT(1) GROUP BY int(a1) % 2',
                          [['1'], ['2'], ['3'], ['4'], ['6']])
    assert rows == [[0, 3], [1, 2]]


def test_aggregate_expression_inside_allowed(spark):
    rows, _ = query_table(spark, 'SELECT SUM(int(a1) * 2)', [['1'], ['2']])
    assert rows == [[6]]


def test_nested_aggregate_rejected(spark):
    with pytest.raises(RbqlParsingError):
        query_table(spark, 'SELECT MAX(a1) / 2', [['1'], ['2']])


def test_order_by_rejected_in_aggregate(spark):
    with pytest.raises(RbqlParsingError):
        query_table(spark, 'SELECT a2, COUNT(1) GROUP BY a2 ORDER BY a2', [r[:] for r in T1])


def test_distinct_rejected_in_aggregate(spark):
    with pytest.raises(RbqlParsingError):
        query_table(spark, 'SELECT DISTINCT a2, COUNT(1) GROUP BY a2', [r[:] for r in T1])


def test_non_constant_group_column_rejected(spark):
    with pytest.raises(RbqlRuntimeError, match='non-constant'):
        query_table(spark, 'SELECT a1, COUNT(1) GROUP BY a2', [r[:] for r in T1])


def test_numeric_conversion_error(spark):
    with pytest.raises(Exception, match='Unable to convert value'):
        query_table(spark, 'SELECT SUM(a2)', [['1', 'oops']], options=None)


def test_group_output_sorted_by_key(spark):
    rows, _ = query_table(spark, 'SELECT a3, COUNT(1) GROUP BY a3', [r[:] for r in T1])
    assert rows == [['alpha', 1], ['beta', 3], ['gamma', 1]]


def test_top_with_group_by(spark):
    rows, _ = query_table(spark, 'SELECT TOP 2 a3, COUNT(1) GROUP BY a3', [r[:] for r in T1])
    assert rows == [['alpha', 1], ['beta', 3]]


def test_numeric_aggregates_null_cells_match_reference(spark):
    """Reference parity for None cells inside numeric aggregates
    (round-12): the reference's real-Python aggregators ERROR on a null
    (SUM's 0 += None, MIN/MAX's min(cur, None), MEDIAN's sort, the
    NumHandler's int()/float() for string columns) rather than SQL-skip
    it — with the accident that None doubles as MIN/MAX's unset
    sentinel, so nulls BEFORE a group's first non-null are ignored, an
    all-null group yields None, and a single-null MEDIAN yields None.
    Every case below is executed against the actual reference engine
    and must agree on outcome (value vs error) and on values."""
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
        ("SELECT MIN(a1), MAX(a1)", [[1, 'x'], [None, 'x'], [3, 'y']]),
        ("SELECT MIN(a1)", [[None, 'x'], [3, 'y']]),
        ("SELECT MIN(a1)", [[None, 'x'], [None, 'y']]),
        ("SELECT MAX(a1)", [[1, 'x'], [None, 'y']]),
        ("SELECT MEDIAN(a1)", [[None, 'x']]),
        ("SELECT MEDIAN(a1)", [[None, 'x'], [3, 'y']]),
        ("SELECT MEDIAN(a1)", [[3, 'x'], [None, 'y']]),
        ("SELECT SUM(a1)", [[1, 'x'], [None, 'y']]),
        ("SELECT SUM(a1)", [[1.5, 'x'], [None, 'y']]),
        ("SELECT AVG(a1)", [[1, 'x'], [None, 'y'], [3, 'y']]),
        ("SELECT VARIANCE(a1)", [[1, 'x'], [None, 'y']]),
        ("SELECT COUNT(a1)", [[1, 'x'], [None, 'y']]),
        ("SELECT a2, MIN(a1) GROUP BY a2",
         [[None, 'x'], [2, 'x'], [5, 'y']]),
        ("SELECT a2, MIN(a1) GROUP BY a2",
         [[2, 'x'], [None, 'x'], [5, 'y']]),
        ("SELECT MIN(a1)", [['3', 'x'], [None, 'y']]),
        ("SELECT MEDIAN(a1)", [['3', 'x'], [None, 'y']]),
        ("SELECT AVG(a1)", [['3', 'x'], [None, 'y']]),
        # non-numeric aggregates keep nulls as VALUES (first-seen / listed)
        ("SELECT ANY_VALUE(a1)", [[None, 'x'], [3, 'y']]),
        ("SELECT ARRAY_AGG(a1)", [[None, 'x'], [3, 'y']]),
    ]
    for q, tbl in cases:
        ref_kind, ref_val = run_ref(q, tbl)
        try:
            rows, _ = query_table(spark, q, [list(r) for r in tbl])
            got = ('ok', rows)
        except Exception as e:
            got = ('err', str(e))
        assert got[0] == ref_kind, \
            'outcome mismatch for {} over {}: got {}, reference {}'.format(
                q, tbl, got, (ref_kind, ref_val))
        if ref_kind == 'ok':
            assert got[1] == ref_val, (q, tbl, got[1], ref_val)
        else:
            # message SHAPE parity: the operand/type words must appear;
            # record numbers are partition-order best-effort
            for token in ('NoneType',):
                assert token in got[1], (q, tbl, got[1], ref_val)


def test_non_constant_group_beyond_top_rejected(spark):
    # the non-constant group ('z') sorts after the one TOP returns
    with pytest.raises(RbqlRuntimeError, match='non-constant'):
        query_table(spark, 'SELECT TOP 1 a1, COUNT(1) GROUP BY a2',
                    [['1', 'a'], ['2', 'b'], ['3', 'z'], ['4', 'z']])
