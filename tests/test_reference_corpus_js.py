"""JS-dialect differential conformance: the reference's JSON unit-test
corpus (/root/reference/test/rbql_unit_tests.json) — every case carrying a
``query_js`` — run through our engine with ``dialect='js'``.

The corpus file is read from the read-only reference tree at test time,
NOT vendored.  Comparison rules mirror tests/test_reference_corpus.py
(numeric-lenient, the reference's own runner semantics); error cases
prefer ``expected_error_js`` texts (e.g. 'mysterious_function is not
defined' vs the Python dialect's "name '…' is not defined",
rbql-js/rbql.js error shapes).
"""

import json
import math
import os

import pytest

CORPUS_PATH = '/root/reference/test/rbql_unit_tests.json'

pytestmark = pytest.mark.slow

if not os.path.exists(CORPUS_PATH):
    pytest.skip('reference corpus not available', allow_module_level=True)


def load_cases():
    with open(CORPUS_PATH, encoding='utf-8') as f:
        cases = json.load(f)
    return [c for c in cases if c.get('query_js') is not None]


CASES = load_cases()

# name → reason for expected divergence
KNOWN_DIVERGENT: dict[str, str] = {}


def norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return round(v, 3)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return round(float(v), 3)
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    return v


def loose_eq(a, b):
    if a == b:
        return True
    if isinstance(a, str) != isinstance(b, str):
        sa, sb = str(a), str(b)
        if sa == sb:
            return True
        try:
            return float(sa) == float(sb)
        except (TypeError, ValueError):
            return False
    return False


def tables_match(got, expected):
    if len(got) != len(expected):
        return False
    for rg, re_ in zip(got, expected):
        if len(rg) != len(re_):
            return False
        for a, b in zip(rg, re_):
            if not loose_eq(norm_value(a), norm_value(b)):
                return False
    return True


@pytest.mark.parametrize('case', CASES, ids=[
    'js_' + c['test_name'].replace(' ', '_') for c in CASES])
def test_corpus_case_js(spark, case):
    from rbql_spark import query_table
    from rbql_spark.errors import exception_to_error_info

    name = case['test_name']
    if name in KNOWN_DIVERGENT:
        pytest.skip(KNOWN_DIVERGENT[name])

    query = case['query_js']
    input_table = [list(r) for r in case['input_table']]
    join_table = [list(r) for r in case['join_table']] if 'join_table' in case else None
    expected_error = case.get('expected_error_js') or case.get('expected_error')
    expected_table = case.get('expected_output_table')
    expected_header = case.get('expected_output_header')
    init_code = case.get('js_init_code', '')

    try:
        rows, header = query_table(
            spark, query, input_table,
            input_column_names=case.get('input_column_names'),
            join_table=join_table,
            join_column_names=case.get('join_column_names'),
            user_init_code=init_code,
            dialect='js')
    except Exception as e:
        if expected_error is None:
            raise
        _etype, emsg = exception_to_error_info(e)
        if case.get('expected_error_exact'):
            assert emsg == expected_error, \
                'error text mismatch:\n  got:      {}\n  expected: {}'.format(emsg, expected_error)
        else:
            assert expected_error.split('\n')[0][:40] in emsg or emsg[:40] in expected_error, \
                'error mismatch:\n  got:      {}\n  expected: {}'.format(emsg, expected_error)
        return

    assert expected_error is None, \
        'expected error "{}" but query succeeded with {} rows'.format(expected_error, len(rows))
    assert tables_match(rows, expected_table), \
        'output mismatch:\n  got:      {}\n  expected: {}'.format(rows, expected_table)
    if expected_header is not None:
        assert header == expected_header
