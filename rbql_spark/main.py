"""Command-line entry point (analog of the reference CLI, rbql_main.py).

    python -m rbql_spark --query "SELECT a1, int(a2) WHERE int(a2) > 5" \
        --input data.csv --delim , --policy quoted --output out.csv

Two modes, like the reference (rbql_main.py:344-386):
  * non-interactive (--query given): reads --input or stdin, writes
    --output or stdout
  * interactive (--query omitted): dialect autodetection, colorized input
    preview, a readline query loop, output preview (rbql_main.py:306-338)

Dialect flags and defaults follow the reference (delimiter → default policy
map rbql_main.py:34-40; autodetection rbql_main.py:128-166).
"""

from __future__ import annotations

import argparse
import os
import sys

POLICIES = ['quoted', 'simple', 'whitespace', 'monocolumn', 'quoted_rfc']
OUT_FORMATS = ['csv', 'tsv', 'input']

_HISTORY_PATH = os.path.expanduser('~/.rbql_py_query_history')


def default_policy_for_delim(delim: str) -> str:
    if delim in (';', ','):
        return 'quoted'
    if delim == ' ':
        return 'whitespace'
    return 'simple'


def normalize_delim(delim: str) -> str:
    if delim in ('TAB', r'\t'):
        return '\t'
    return delim


def interpret_out_format(fmt: str) -> tuple[str, str]:
    return (',', 'quoted') if fmt == 'csv' else ('\t', 'simple')


def _sample_lines(path: str, encoding: str, comment_prefix, comment_regex,
                  n: int = 10) -> list[str]:
    import re as _re
    crgx = _re.compile(comment_regex) if comment_regex else None
    out: list[str] = []
    try:
        with open(path, 'r', encoding=encoding, newline='') as f:
            for raw in f:
                line = raw.rstrip('\r\n')
                if line.startswith('﻿'):
                    line = line[1:]
                if comment_prefix and line.startswith(comment_prefix):
                    continue
                if crgx is not None and crgx.search(line) is not None:
                    continue
                out.append(line)
                if len(out) >= n:
                    break
    except OSError:
        pass
    return out


def autodetect_dialect(path: str, encoding: str, comment_prefix=None,
                       comment_regex=None) -> tuple[str | None, str | None]:
    """First candidate dialect under which every sampled line splits cleanly
    into the same >=2 field count wins (reference is_delimited_table +
    autodetect_delim_policy, rbql_main.py:128-166)."""
    from .sources.csv import split_quoted
    lines = _sample_lines(path, encoding, comment_prefix, comment_regex)
    if len(lines) >= 2:
        for delim, policy in [('\t', 'simple'), (',', 'quoted'),
                              (';', 'quoted'), ('|', 'simple')]:
            counts = []
            ok = True
            for ln in lines:
                if policy == 'quoted':
                    fields, warn = split_quoted(ln, delim)
                    if warn:
                        ok = False
                        break
                else:
                    fields = ln.split(delim)
                if len(fields) < 2:
                    ok = False
                    break
                counts.append(len(fields))
            if ok and len(set(counts)) == 1:
                return delim, policy
    ext = os.path.splitext(path)[1].lower()
    if ext == '.csv':
        return ',', 'quoted'
    if ext == '.tsv':
        return '\t', 'simple'
    return None, None


def _split_preview_records(path, delim, policy, encoding, comment_prefix,
                           strip_whitespaces, comment_regex, n=10):
    """First n records for the interactive preview (driver-side head read)."""
    from .sources.csv import _record_split_rfc, split_quoted, split_whitespace
    if policy == 'quoted_rfc':
        with open(path, 'rb') as f:
            head = f.read(1 << 16).decode(encoding, errors='replace')
        try:
            recs = _record_split_rfc(head, delim, comment_prefix=comment_prefix,
                                     comment_regex=comment_regex)[:n]
        except Exception:
            recs = []
    else:
        lines = _sample_lines(path, encoding, comment_prefix, comment_regex, n)
        if policy == 'simple':
            recs = [ln.split(delim) for ln in lines]
        elif policy == 'whitespace':
            recs = [split_whitespace(ln) for ln in lines]
        elif policy == 'monocolumn':
            recs = [[ln] for ln in lines]
        else:
            recs = [split_quoted(ln, delim)[0] for ln in lines]
    if strip_whitespaces:
        recs = [[f.strip() for f in r] for r in recs]
    return recs


_COLORS = ['\u001b[0m', '\u001b[31m', '\u001b[32m', '\u001b[33m',
           '\u001b[34m', '\u001b[35m', '\u001b[36m', '\u001b[31;1m',
           '\u001b[32;1m', '\u001b[33;1m']
_RESET = '\u001b[0m'


def print_colorized(records, delim, show_column_names, with_headers) -> None:
    for rnum, record in enumerate(records):
        parts = []
        for i, field in enumerate(record):
            color = _COLORS[i % len(_COLORS)]
            sval = '' if field is None else str(field)
            if not show_column_names or (with_headers and rnum == 0):
                parts.append('{}{}'.format(color, sval))
            else:
                parts.append('{}a{}:{}'.format(color, i + 1, sval))
        sys.stdout.write(delim.join(parts) + _RESET + '\n')


def get_default_output_path(input_path: str, delim: str) -> str:
    ext = {',': '.csv', '\t': '.tsv'}.get(delim, '.txt')
    return input_path + ext


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog='rbql_spark', description='PySpark-native RBQL query engine')
    p.add_argument('--query', help='RBQL query text; interactive mode when omitted')
    p.add_argument('--input', help='input CSV/TSV path (stdin in non-interactive mode when omitted)')
    p.add_argument('--output', help='output path (default: stdout)')
    p.add_argument('--delim', default=None, help='field delimiter, e.g. "," or TAB')
    p.add_argument('--policy', choices=POLICIES, default=None)
    p.add_argument('--with-headers', action='store_true', help='first row is a header')
    p.add_argument('--encoding', default='utf-8', choices=['utf-8', 'latin-1'])
    p.add_argument('--comment-prefix', default=None,
                   help='ignore lines that start with PREFIX')
    p.add_argument('--comment-regex', default=None,
                   help='ignore lines that contain REGEX')
    p.add_argument('--strip-spaces', action='store_true', dest='strip_spaces')
    p.add_argument('--out-format', default='input', choices=OUT_FORMATS,
                   help='output dialect: input (same as input), csv, tsv')
    p.add_argument('--out-delim', default=None)
    p.add_argument('--out-policy', choices=POLICIES, default=None)
    p.add_argument('--dialect', default='python', choices=['python', 'js'],
                   help='expression language of the query (the reference ships '
                        'rbql-py and rbql-js; both dialects run on this engine)')
    p.add_argument('--init-source-file', default=None,
                   help='python file exec-ed into the query scope (UDFs)')
    p.add_argument('--color', action='store_true',
                   help='colorize columns in terminal output (stdout only)')
    p.add_argument('--version', action='version', version='rbql_spark 0.1.0')
    p.add_argument('--cpus', type=int, default=os.cpu_count() or 4)
    return p


def _build_session(cpus: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master('local[{}]'.format(cpus))
             .appName('rbql-spark-cli')
             .config('spark.sql.shuffle.partitions', str(cpus))
             .config('spark.sql.adaptive.enabled', 'true')
             .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
             .config('spark.ui.enabled', 'false')
             .getOrCreate())
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def _read_user_init(args) -> str:
    if args.init_source_file:
        with open(args.init_source_file, encoding='utf-8') as f:
            return f.read()
    default_init = os.path.expanduser('~/.rbql_init_source.py')
    if os.path.exists(default_init):
        with open(default_init, encoding='utf-8') as f:
            return f.read()
    return ''


def _out_dialect(args, delim: str, policy: str) -> tuple[str, str]:
    if args.out_format != 'input':
        out_delim, out_policy = interpret_out_format(args.out_format)
    else:
        out_delim, out_policy = delim, policy
    if args.out_delim is not None:
        out_delim = normalize_delim(args.out_delim)
    if args.out_policy is not None:
        out_policy = args.out_policy
    return out_delim, out_policy


def _run_one_query(spark, args, query: str, input_path: str, delim: str,
                   policy: str) -> bool:
    from .api import query_csv
    from .errors import exception_to_error_info
    from .sources.csv import write_csv
    out_delim, out_policy = _out_dialect(args, delim, policy)
    try:
        result = query_csv(spark, query, input_path,
                           delim=delim, policy=policy, encoding=args.encoding,
                           with_headers=args.with_headers,
                           comment_prefix=args.comment_prefix,
                           strip_whitespaces=args.strip_spaces,
                           comment_regex=args.comment_regex,
                           user_init_code=_read_user_init(args),
                           dialect=args.dialect)
        if args.output:
            warnings = write_csv(result, args.output, delim=out_delim,
                                 policy=out_policy, encoding=args.encoding)
        elif args.color:
            from .api import collect_result_rows
            rows = collect_result_rows(result)
            header = result.out_names
            warnings = list(result.warnings)
            if header is not None:
                rows = [header] + rows
            print_colorized(rows, out_delim, show_column_names=False,
                            with_headers=False)
        else:
            import tempfile
            with tempfile.NamedTemporaryFile('r', suffix='.csv', delete=False) as tf:
                tmp_name = tf.name
            warnings = write_csv(result, tmp_name, delim=out_delim,
                                 policy=out_policy, encoding=args.encoding)
            with open(tmp_name, encoding=args.encoding) as f:
                sys.stdout.write(f.read())
            os.unlink(tmp_name)
        for w in warnings:
            print('Warning: ' + w, file=sys.stderr)
        result.release()   # output written — free the query's pinned frames
        return True
    except Exception as e:
        err_type, err_msg = exception_to_error_info(e)
        print('Error [{}]: {}'.format(err_type, err_msg), file=sys.stderr)
        return False


def _interactive_loop(args, delim: str, policy: str) -> int:
    """Reference run_interactive_loop (rbql_main.py:209-243): readline query
    prompt; a successful query prints an output preview and exits."""
    try:
        import readline
        if os.path.exists(_HISTORY_PATH):
            readline.read_history_file(_HISTORY_PATH)
        readline.set_history_length(100)
    except Exception:
        readline = None
    spark = None
    try:
        while True:
            try:
                query = input('Input SQL-like RBQL query and press Enter:\n> ').strip()
            except EOFError:
                print()
                return 0
            if not query:
                return 0
            if readline is not None:
                try:
                    readline.write_history_file(_HISTORY_PATH)
                except Exception:
                    pass
            if spark is None:
                spark = _build_session(args.cpus)
            if _run_one_query(spark, args, query, args.input, delim, policy):
                out_delim, out_policy = _out_dialect(args, delim, policy)
                print('\nOutput table preview:')
                print('====================================')
                recs = _split_preview_records(
                    args.output, out_delim, out_policy, args.encoding,
                    comment_prefix=None, strip_whitespaces=False,
                    comment_regex=None)
                print_colorized(recs, out_delim, show_column_names=False,
                                with_headers=False)
                print('====================================')
                print('Success! Result table was saved to: ' + args.output)
                return 0
    except KeyboardInterrupt:
        print()
        return 0
    finally:
        if spark is not None:
            spark.stop()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.output is not None and args.color:
        print('Error [generic]: "--output" is not compatible with "--color" option',
              file=sys.stderr)
        return 1
    if args.policy == 'monocolumn':
        args.delim = ''
    if args.delim is None and args.policy is not None:
        print('Error [generic]: Using "--policy" without "--delim" is not allowed',
              file=sys.stderr)
        return 1
    if args.delim is not None:
        args.delim = normalize_delim(args.delim)

    is_interactive = args.query is None
    if is_interactive:
        if args.color:
            print('Error [generic]: "--color" option is not compatible with '
                  'interactive mode. Output and Input files preview would be '
                  'colorized anyway', file=sys.stderr)
            return 1
        if not args.input:
            print('Error [generic]: Input file must be provided in interactive '
                  'mode. You can use stdin input only in non-interactive mode',
                  file=sys.stderr)
            return 1
        if not os.path.exists(args.input):
            print('Error [generic]: Input file {} does not exist'.format(args.input),
                  file=sys.stderr)
            return 1
        delim, policy = args.delim, args.policy
        if delim is None:
            delim, policy = autodetect_dialect(args.input, args.encoding,
                                               args.comment_prefix, args.comment_regex)
            if delim is None:
                print('Error [generic]: Unable to autodetect table delimiter. '
                      'Provide column separator explicitly with "--delim" option',
                      file=sys.stderr)
                return 1
        if policy is None:
            policy = default_policy_for_delim(delim)
        print('Input table preview:')
        print('====================================')
        print_colorized(
            _split_preview_records(args.input, delim, policy, args.encoding,
                                   args.comment_prefix, args.strip_spaces,
                                   args.comment_regex),
            delim, show_column_names=True, with_headers=args.with_headers)
        print('====================================\n')
        if args.output is None:
            args.output = get_default_output_path(args.input, delim)
            print('Warning: Output path was not provided. Result set will be '
                  'saved as: ' + args.output, file=sys.stderr)
        return _interactive_loop(args, delim, policy)

    # ---- non-interactive ------------------------------------------------
    input_path = args.input
    stdin_tmp = None
    if not input_path:
        # reference reads stdin in non-interactive mode (rbql_main.py:348);
        # spool it to a temp file so the scan paths work uniformly
        if args.delim is None:
            print('Error [generic]: Separator must be provided with "--delim" '
                  'option in non-interactive mode', file=sys.stderr)
            return 1
        import tempfile
        fd, stdin_tmp = tempfile.mkstemp(prefix='rbql_stdin_', suffix='.csv')
        with os.fdopen(fd, 'wb') as f:
            f.write(sys.stdin.buffer.read())
        input_path = stdin_tmp

    delim, policy = args.delim, args.policy
    if delim is None:
        delim, policy = autodetect_dialect(input_path, args.encoding,
                                           args.comment_prefix, args.comment_regex)
        if delim is None:
            delim, policy = ',', 'quoted'
    if policy is None:
        policy = default_policy_for_delim(delim)

    spark = _build_session(args.cpus)
    try:
        ok = _run_one_query(spark, args, args.query, input_path, delim, policy)
        return 0 if ok else 1
    finally:
        spark.stop()
        if stdin_tmp:
            try:
                os.unlink(stdin_tmp)
            except OSError:
                pass


if __name__ == '__main__':
    sys.exit(main())
