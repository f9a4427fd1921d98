import pytest

from rbql_spark import query_table
from rbql_spark.errors import RbqlIOHandlingError, RbqlParsingError, RbqlRuntimeError

A = [
    ['1', 'usa', 'x'],
    ['2', 'france', 'y'],
    ['3', 'atlantis', 'z'],
    ['4', 'usa', 'w'],
]
B = [
    ['usa', 'Washington', '330'],
    ['france', 'Paris', '67'],
    ['peru', 'Lima', '33'],
]
B_DUP = B + [['usa', 'NYC', '8']]


def test_inner_join(spark):
    rows, _ = query_table(spark, 'SELECT a1, b2 INNER JOIN b ON a2 == b1',
                          [r[:] for r in A], join_table=[r[:] for r in B])
    assert rows == [['1', 'Washington'], ['2', 'Paris'], ['4', 'Washington']]


def test_join_bare_keyword_is_inner(spark):
    rows, _ = query_table(spark, 'SELECT a1 JOIN b ON a2 == b1',
                          [r[:] for r in A], join_table=[r[:] for r in B])
    assert [r[0] for r in rows] == ['1', '2', '4']


def test_left_join_null_fill(spark):
    rows, _ = query_table(spark, 'SELECT a1, b2, b3 LEFT JOIN b ON a2 == b1',
                          [r[:] for r in A], join_table=[r[:] for r in B])
    assert rows == [['1', 'Washington', '330'], ['2', 'Paris', '67'],
                    ['3', None, None], ['4', 'Washington', '330']]


def test_inner_join_duplicate_b_keys_multiplies(spark):
    rows, _ = query_table(spark, 'SELECT a1, b2 INNER JOIN b ON a2 == b1',
                          [r[:] for r in A], join_table=[r[:] for r in B_DUP])
    assert sorted(map(tuple, rows)) == sorted(
        [('1', 'Washington'), ('1', 'NYC'), ('2', 'Paris'), ('4', 'Washington'), ('4', 'NYC')])


def test_strict_left_join_ok(spark):
    rows, _ = query_table(spark, 'SELECT a1, b2 STRICT LEFT JOIN b ON a2 == b1',
                          [r[:] for r in A[:2]], join_table=[r[:] for r in B])
    assert rows == [['1', 'Washington'], ['2', 'Paris']]


def test_strict_left_join_missing_match_errors(spark):
    with pytest.raises(RbqlRuntimeError, match='STRICT LEFT JOIN'):
        query_table(spark, 'SELECT a1 STRICT LEFT JOIN b ON a2 == b1',
                    [r[:] for r in A], join_table=[r[:] for r in B])


def test_strict_left_join_dup_match_errors(spark):
    with pytest.raises(RbqlRuntimeError, match='STRICT LEFT JOIN'):
        query_table(spark, 'SELECT a1 STRICT LEFT JOIN b ON a2 == b1',
                    [r[:] for r in A[:2]], join_table=[r[:] for r in B_DUP])


def test_multi_key_join(spark):
    a = [['1', 'x'], ['2', 'y']]
    b = [['1', 'x', 'first'], ['2', 'z', 'second']]
    rows, _ = query_table(spark, 'SELECT a1, b3 INNER JOIN b ON a1 == b1 AND a2 == b2',
                          a, join_table=b)
    assert rows == [['1', 'first']]


def test_join_on_nr(spark):
    rows, _ = query_table(spark, 'SELECT a1, b1 INNER JOIN b ON NR == bNR',
                          [['x'], ['y']], join_table=[['r1'], ['r2'], ['r3']])
    assert rows == [['x', 'r1'], ['y', 'r2']]


def test_star_with_join(spark):
    rows, _ = query_table(spark, 'SELECT * INNER JOIN b ON a2 == b1',
                          [r[:] for r in A[:1]], join_table=[r[:] for r in B])
    assert rows == [['1', 'usa', 'x', 'usa', 'Washington', '330']]


def test_b_star(spark):
    rows, _ = query_table(spark, 'SELECT b.* INNER JOIN b ON a2 == b1',
                          [r[:] for r in A[:1]], join_table=[r[:] for r in B])
    assert rows == [['usa', 'Washington', '330']]


def test_bnr_variable(spark):
    rows, _ = query_table(spark, 'SELECT a1, bNR LEFT JOIN b ON a2 == b1',
                          [r[:] for r in A], join_table=[r[:] for r in B])
    assert rows == [['1', 1], ['2', 2], ['3', None], ['4', 1]]


def test_join_header_consistency_error(spark):
    with pytest.raises(RbqlIOHandlingError, match='Inconsistent modes'):
        query_table(spark, 'SELECT a1 INNER JOIN b ON a1 == b1',
                    [['1']], input_column_names=['k'],
                    join_table=[['1', 'v']], join_column_names=None)


def test_named_join_keys(spark):
    rows, _ = query_table(
        spark, 'SELECT a.name, b.capital INNER JOIN b ON a.country == b.country',
        [['alice', 'usa'], ['bob', 'france']],
        input_column_names=['name', 'country'],
        join_table=[['usa', 'Washington'], ['france', 'Paris']],
        join_column_names=['country', 'capital'])
    assert rows == [['alice', 'Washington'], ['bob', 'Paris']]


def test_join_with_where_and_expressions(spark):
    rows, _ = query_table(
        spark, "SELECT a1, int(b3) * 2 INNER JOIN b ON a2 == b1 WHERE int(b3) > 100",
        [r[:] for r in A], join_table=[r[:] for r in B])
    assert rows == [['1', 660], ['4', 660]]


def test_aggregate_over_join(spark):
    rows, _ = query_table(
        spark, 'SELECT b1, COUNT(1) INNER JOIN b ON a2 == b1 GROUP BY b1',
        [r[:] for r in A], join_table=[r[:] for r in B])
    assert rows == [['france', 1], ['usa', 2]]


def test_unknown_join_table(spark):
    # reference parity: query_table without a join table has no registry →
    # 'JOIN operations are not supported by the application'
    with pytest.raises(RbqlParsingError, match='JOIN operations are not supported'):
        query_table(spark, 'SELECT a1 INNER JOIN nosuch ON a1 == b1', [['1']])
    # with a registered join table but a wrong name → 'Unable to find'
    with pytest.raises(RbqlParsingError, match='Unable to find join table'):
        query_table(spark, 'SELECT a1 INNER JOIN nosuch ON a1 == b1', [['1']],
                    join_table=[['1', 'x']])


def test_strict_left_join_unreferenced_b_dup_ok(spark):
    # ADVICE r1: duplicate B keys that no A row references must NOT error
    # (reference StrictLeftJoiner only checks A-side probe counts,
    # rbql_engine.py:595-603)
    a = [['k1']]
    b = [['k2', 'x'], ['k2', 'y'], ['k1', 'z']]
    rows, _ = query_table(spark, 'SELECT a1, b2 STRICT LEFT JOIN b ON a1 == b1',
                          a, join_table=b)
    assert rows == [['k1', 'z']]


def test_strict_left_join_bad_key_in_message(spark):
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "usa"'):
        query_table(spark, 'SELECT a1 STRICT LEFT JOIN b ON a2 == b1',
                    [['1', 'usa']], join_table=[r[:] for r in B_DUP])


def test_ambiguous_join_var_guard_message():
    # Defensive parity with the reference's resolve_join_variables guard
    # (rbql_engine.py:1024-1027): with the fully prefixed a/b grammar the
    # two variable maps are disjoint, so drive the guard directly with a
    # stub binding where a token resolves on both sides.
    from rbql_spark import engine as E

    class _Ref:
        def __init__(self, side):
            self.side = side
            self.kind = 'field'
            self.index = 0

    class _B:
        pass

    def fake_resolve(binding, var_text, side):
        return _Ref(side)

    orig = E._resolve_var_text
    E._resolve_var_text = fake_resolve
    try:
        with pytest.raises(
                RbqlParsingError,
                match='Ambiguous variable name: "x" is present both in input '
                      'and in join tables'):
            E._check_ambiguous_join_var(_B(), 'x')
    finally:
        E._resolve_var_text = orig


# eight A rows spread over the session's four partitions
A8 = [[str(i), k] for i, k in enumerate(
    ['usa', 'france', 'usa', 'france', 'usa', 'france', 'usa', 'france'], 1)]


def test_ragged_b_short_record_lacks_key_field(spark):
    # HashJoinMap.build reads every B record's key: the FIRST record (in
    # B order) too short to hold it fails the whole query
    b = [['x', 'usa'], ['y', 'france'], ['z', 'peru'], ['w', 'chile'],
         ['v'], ['u', 'spain'], ['t'], ['s', 'italy']]
    with pytest.raises(RbqlRuntimeError,
                       match=r'^No field with index 2 at record 5 in "B" table$'):
        query_table(spark, 'SELECT a1, b1 INNER JOIN b ON a2 == b2',
                    [r[:] for r in A8], join_table=b)


def test_strict_left_join_names_first_violation_in_record_order(spark):
    # record 3 has no match, record 6 has two: the message names record 3's
    # key whichever partition's task fails first
    a = [['1', 'usa'], ['2', 'france'], ['3', 'atlantis'], ['4', 'usa'],
         ['5', 'france'], ['6', 'chile'], ['7', 'usa'], ['8', 'france']]
    b = [['usa', 'W'], ['france', 'P'], ['chile', 'S'], ['chile', 'V']]
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "atlantis"$'):
        query_table(spark, 'SELECT a1, b2 STRICT LEFT JOIN b ON a2 == b1',
                    a, join_table=b)
    # the reverse: the duplicate match comes first
    a[2][1], a[5][1] = 'chile', 'atlantis'
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "chile"$'):
        query_table(spark, 'SELECT a1, b2 STRICT LEFT JOIN b ON a2 == b1',
                    a, join_table=b)


def test_strict_left_join_multikey_renders_tuple(spark):
    a = [[1, 'usa'], [2, 'france'], [3, 'peru']]
    b = [[1, 'usa', 'W'], [2, 'france', 'P']]
    with pytest.raises(RbqlRuntimeError) as ei:
        query_table(spark, 'SELECT a1, b3 STRICT LEFT JOIN b ON a1 == b1 AND a2 == b2',
                    a, join_table=b)
    assert str(ei.value) == ('In "STRICT LEFT JOIN" each key in A must have exactly '
                             'one match in B. Bad A key: "(3, \'peru\')"')


def test_strict_left_join_top_raises_for_violation_in_returned_rows(spark):
    b = [['usa', 'W'], ['france', 'P']]
    a = [r[:] for r in A8]
    a[1][1] = 'atlantis'
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "atlantis"$'):
        query_table(spark, 'SELECT TOP 3 a1, b2 STRICT LEFT JOIN b ON a2 == b1',
                    a, join_table=b)


def test_strict_left_join_error_rendered_on_dense_nr_and_pipe_paths(spark):
    a = [r[:] for r in A8]
    a[2][1], a[5][1] = 'atlantis', 'chile'
    b = [['usa', 'W'], ['france', 'P']]
    # NR referenced: record numbers are dense, the key is still the first's
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "atlantis"$'):
        query_table(spark, 'SELECT NR, a1, b2 STRICT LEFT JOIN b ON a2 == b1',
                    a, join_table=b)
    # the guard of a pipe's first stage fires in the last stage's job
    with pytest.raises(RbqlRuntimeError, match='Bad A key: "atlantis"$'):
        query_table(spark, 'SELECT a1, b2 STRICT LEFT JOIN b ON a2 == b1 '
                    '| SELECT a2, COUNT(1) GROUP BY a2', a, join_table=b)
