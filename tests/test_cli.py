"""CLI end-to-end tests mirroring the reference shell suite
(/root/reference/test_all.sh:267-300): with-headers named columns, error and
warning surfacing, stdin input, --out-format, --comment-regex, interactive
mode.  main() runs in-process against the shared Spark session (the CLI's
own session builder and stop() are stubbed out)."""

import io
import os

import pytest

import rbql_spark.main as climod

REF_CSV_DIR = '/root/reference/test/csv_files'

needs_ref_csv = pytest.mark.skipif(
    not os.path.isdir(REF_CSV_DIR), reason='reference csv fixtures not available')


@pytest.fixture()
def cli(spark, monkeypatch):
    """Run the CLI main() against the session fixture."""
    monkeypatch.setattr(spark, 'stop', lambda: None)
    monkeypatch.setattr(climod, '_build_session', lambda cpus: spark)

    def run(argv, stdin_bytes=None):
        if stdin_bytes is not None:
            monkeypatch.setattr('sys.stdin', io.TextIOWrapper(io.BytesIO(stdin_bytes)))
        return climod.main(argv)
    return run


@needs_ref_csv
def test_cli_with_headers_named_columns(cli, capsys):
    rc = cli(['--input', os.path.join(REF_CSV_DIR, 'countries.csv'),
              '--query', "select top 5 a.country, a['GDP per capita'] "
                         "order by int(a['GDP per capita']) desc",
              '--delim', ',', '--with-headers'])
    out = capsys.readouterr().out
    expected = open(os.path.join(REF_CSV_DIR, 'expected_result_14.csv')).read()
    assert rc == 0
    assert out == expected


@needs_ref_csv
def test_cli_unknown_function_error(cli, capsys):
    rc = cli(['--delim', ',', '--query', 'SELECT top 3 a1, foobarium(a2)',
              '--input', os.path.join(REF_CSV_DIR, 'countries.csv')])
    err = capsys.readouterr().err
    assert rc == 1
    assert "name 'foobarium' is not defined" in err


@needs_ref_csv
def test_cli_none_warning(cli, capsys):
    rc = cli(['--delim', ',', '--query', 'SELECT top 3 a1, None, a2',
              '--input', os.path.join(REF_CSV_DIR, 'countries.csv')])
    cap = capsys.readouterr()
    assert rc == 0
    assert 'Warning: None values in output were replaced by empty strings' in cap.err


def test_cli_stdin_input(cli, capsys):
    rc = cli(['--delim', ',', '--query', 'SELECT a1 WHERE int(a2) > 10'],
             stdin_bytes=b'a,5\nb,20\nc,30\n')
    cap = capsys.readouterr()
    assert rc == 0
    assert cap.out == 'b\nc\n'


def test_cli_stdin_requires_delim(cli, capsys):
    rc = cli(['--query', 'SELECT a1'], stdin_bytes=b'a,1\n')
    cap = capsys.readouterr()
    assert rc == 1
    assert 'Separator must be provided with "--delim" option' in cap.err


def test_cli_out_format_tsv(cli, capsys, tmp_path):
    p = tmp_path / 'in.csv'
    p.write_text('a,1\nb,2\n')
    rc = cli(['--input', str(p), '--delim', ',', '--query', 'SELECT a1, a2',
              '--out-format', 'tsv'])
    cap = capsys.readouterr()
    assert rc == 0
    assert cap.out == 'a\t1\nb\t2\n'


def test_cli_comment_regex(cli, capsys, tmp_path):
    p = tmp_path / 'in.csv'
    p.write_text('a,1\n#skip,2\nb,3\n')
    rc = cli(['--input', str(p), '--delim', ',', '--query', 'SELECT a1',
              '--comment-regex', '^#'])
    cap = capsys.readouterr()
    assert rc == 0
    assert cap.out == 'a\nb\n'


@needs_ref_csv
def test_cli_policy_without_delim_rejected(cli, capsys):
    rc = cli(['--query', 'SELECT a1', '--policy', 'quoted',
              '--input', os.path.join(REF_CSV_DIR, 'countries.csv')])
    cap = capsys.readouterr()
    assert rc == 1
    assert 'Using "--policy" without "--delim" is not allowed' in cap.err


@needs_ref_csv
def test_cli_color_with_output_rejected(cli, capsys, tmp_path):
    rc = cli(['--query', 'SELECT a1', '--delim', ',', '--color',
              '--output', str(tmp_path / 'o.csv'),
              '--input', os.path.join(REF_CSV_DIR, 'countries.csv')])
    cap = capsys.readouterr()
    assert rc == 1
    assert '"--output" is not compatible with "--color" option' in cap.err


def test_cli_interactive_mode(cli, capsys, tmp_path, monkeypatch):
    src = tmp_path / 'tbl.csv'
    src.write_text('x,1\ny,20\nz,300\n')
    queries = iter(['SELECT a1, a2 WHERE int(a2) >= 20'])
    monkeypatch.setattr('builtins.input', lambda prompt='': next(queries))
    rc = cli(['--input', str(src)])
    cap = capsys.readouterr()
    assert rc == 0
    assert 'Input table preview:' in cap.out
    assert 'a1:' in cap.out                      # colorized preview names
    assert 'Output table preview:' in cap.out
    out_path = str(src) + '.csv'                 # default output path + warning
    assert 'Result set will be saved as: ' + out_path in cap.err
    assert 'Success! Result table was saved to: ' + out_path in cap.out
    assert open(out_path).read() == 'y,20\nz,300\n'


def test_cli_interactive_autodetects_dialect(cli, capsys, tmp_path, monkeypatch):
    src = tmp_path / 'tbl.data'
    src.write_text('x\t1\ny\t20\n')
    monkeypatch.setattr('builtins.input', lambda prompt='': 'SELECT a1')
    rc = cli(['--input', str(src)])
    cap = capsys.readouterr()
    assert rc == 0
    assert open(str(src) + '.tsv').read() == 'x\ny\n'


def test_cli_interactive_requires_input(cli, capsys):
    rc = cli([])
    cap = capsys.readouterr()
    assert rc == 1
    assert 'Input file must be provided in interactive mode' in cap.err
