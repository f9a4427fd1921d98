"""Differential CSV E2E suite: the reference's csv_unit_tests.json corpus
(56 cases) run through query_csv + write_csv against the real fixture files
in /root/reference/test/csv_files (read-only at test time, not vendored).

Output files are compared byte-for-byte against the reference's expected
output fixtures (the reference's own runner compares by content/md5,
test_csv_utils.py:869-948).
"""

import json
import os

import pytest

REF_TEST_DIR = '/root/reference/test'
CORPUS_PATH = os.path.join(REF_TEST_DIR, 'csv_unit_tests.json')

pytestmark = pytest.mark.slow

if not os.path.exists(CORPUS_PATH):
    pytest.skip('reference csv corpus not available', allow_module_level=True)


def load_cases():
    with open(CORPUS_PATH, encoding='utf-8') as f:
        cases = json.load(f)
    return [c for c in cases if c.get('query_python') is not None]


CASES = load_cases()

KNOWN_DIVERGENT = set()


@pytest.mark.parametrize('case', CASES, ids=[c['test_name'].replace(' ', '_') for c in CASES])
def test_csv_corpus_case(spark, case, tmp_path):
    from rbql_spark.api import query_csv
    from rbql_spark.errors import exception_to_error_info
    from rbql_spark.sources.csv import write_csv
    from rbql_spark.sources.jsonl import write_jsonl

    name = case['test_name']
    if name in KNOWN_DIVERGENT:
        pytest.skip(KNOWN_DIVERGENT[name])

    input_path = os.path.join(REF_TEST_DIR, case['input_table_path'])
    delim = case['csv_separator']
    policy = case['csv_policy']
    encoding = case['csv_encoding']
    output_format = case.get('output_format', 'input')
    expected_error = case.get('expected_error') or case.get('expected_error_py')
    query = case['query_python'].replace('###UT_TESTS_DIR###', REF_TEST_DIR)

    # reference runner semantics: output dialect from output_format
    if output_format == 'tsv':
        out_delim, out_policy = '\t', 'simple'
    elif output_format == 'csv':
        out_delim, out_policy = ',', 'quoted'
    else:
        out_delim, out_policy = delim, policy

    out_path = case.get('absolute_output_table_path') or os.path.join(str(tmp_path), 'out.txt')
    got_warnings: list[str] = []
    try:
        result = query_csv(
            spark, query, input_path,
            delim=delim, policy=policy, encoding=encoding,
            with_headers=bool(case.get('with_headers')),
            comment_prefix=case.get('comment_prefix'),
            strip_whitespaces=bool(case.get('strip_whitespaces')),
            comment_regex=case.get('comment_regex'),
            extra_search_dirs=[REF_TEST_DIR])
        got_warnings.extend(result.warnings)
        if output_format == 'json':
            write_jsonl(result, out_path)
        else:
            got_warnings.extend(
                write_csv(result, out_path, delim=out_delim, policy=out_policy, encoding=encoding))
    except Exception as e:
        if expected_error is None:
            raise
        _t, emsg = exception_to_error_info(e)
        if case.get('expected_error_exact'):
            assert emsg == expected_error, 'got: {!r} expected: {!r}'.format(emsg, expected_error)
        else:
            probe = expected_error.split('\n')[0][:40]
            assert probe in emsg or emsg[:40] in expected_error, \
                'got: {!r} expected: {!r}'.format(emsg, expected_error)
        return

    assert expected_error is None, 'expected error {!r}, query succeeded'.format(expected_error)

    expected_warnings = case.get('expected_warnings')
    if expected_warnings is not None:
        # the reference's own normalization (test_csv_utils.py:43-58)
        def normalize(ws):
            out = []
            for w in ws:
                if 'Number of fields in "input" table is not consistent' in w:
                    out.append('inconsistent input records')
                elif 'Inconsistent double quote escaping' in w:
                    out.append('inconsistent double quote escaping')
                elif 'None values in output were replaced by empty strings' in w:
                    out.append('null values in output were replaced')
                elif w == 'UTF-8 Byte Order Mark (BOM) was found and skipped in input table':
                    out.append('BOM removed from input')
                else:
                    out.append(w)
            return sorted(set(out))
        assert normalize(got_warnings) == sorted(set(expected_warnings)), \
            'warnings mismatch: got {} expected {}'.format(got_warnings, expected_warnings)

    expected_path = case.get('expected_output_table_path')
    if expected_path is None:
        return
    expected_file = os.path.join(REF_TEST_DIR, expected_path)
    with open(expected_file, 'rb') as f:
        expected_bytes = f.read()
    with open(out_path, 'rb') as f:
        got_bytes = f.read()
    if got_bytes != expected_bytes:
        exp_txt = expected_bytes.decode(encoding, 'replace')
        got_txt = got_bytes.decode(encoding, 'replace')
        assert got_txt == exp_txt
