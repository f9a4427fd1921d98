import os

import pytest

from rbql_spark import query_csv
from rbql_spark.sources.csv import read_csv, split_quoted, write_csv


def _hrows(h, n):
    """First n data columns of a handle, in source order."""
    from rbql_spark.binding import NF_SRC_COL, ORDER_SRC_COL
    df = h.df
    if ORDER_SRC_COL in df.columns:
        df = df.orderBy(ORDER_SRC_COL)
    cols = [c for c in df.columns if c not in (ORDER_SRC_COL, NF_SRC_COL)][:n]
    return [[r[c] for c in cols] for r in df.select(*[df[c] for c in cols] + ([df[ORDER_SRC_COL]] if ORDER_SRC_COL in h.df.columns else [])).collect()]


def _write(tmp_path, name, content, encoding='utf-8'):
    p = os.path.join(str(tmp_path), name)
    with open(p, 'w', encoding=encoding, newline='') as f:
        f.write(content)
    return p


# ---- splitter unit tests (behavior parity with reference csv_utils) -------

def test_split_quoted_plain():
    assert split_quoted('a,b,c', ',') == (['a', 'b', 'c'], False)


def test_split_quoted_quotes():
    assert split_quoted('"a,x",b', ',') == (['a,x', 'b'], False)


def test_split_quoted_doubled_quotes():
    assert split_quoted('"say ""hi""",b', ',') == (['say "hi"', 'b'], False)


def test_split_quoted_defective():
    fields, warning = split_quoted('a"b,c', ',')
    assert warning is True
    assert fields == ['a"b', 'c']


def test_split_quoted_trailing_delim():
    assert split_quoted('a,b,', ',')[0] == ['a', 'b', '']


def test_split_quoted_external_spaces():
    assert split_quoted(' "a" ,b', ',') == (['a', 'b'], False)


# ---- read paths -----------------------------------------------------------

def test_read_simple_tsv(spark, tmp_path):
    p = _write(tmp_path, 't.tsv', 'a1\tb1\tc1\na2\tb2\tc2\n')
    h = read_csv(spark, p, delim='\t', policy='simple')
    rows = _hrows(h, 3)
    assert rows == [['a1', 'b1', 'c1'], ['a2', 'b2', 'c2']]


def test_read_with_headers(spark, tmp_path):
    p = _write(tmp_path, 't.csv', 'name,age\nalice,30\nbob,25\n')
    h = read_csv(spark, p, with_headers=True)
    assert h.header == ['name', 'age']
    assert sorted(tuple(r)[:2] for r in h.df.collect()) == [('alice', '30'), ('bob', '25')]


def test_read_quoted(spark, tmp_path):
    p = _write(tmp_path, 't.csv', 'x,"a,b",z\n"q""q",w,e\n')
    h = read_csv(spark, p, policy='quoted')
    rows = _hrows(h, 3)
    assert rows == [['x', 'a,b', 'z'], ['q"q', 'w', 'e']]


def test_read_quoted_rfc_multiline(spark, tmp_path):
    p = _write(tmp_path, 't.csv', 'a,"line1\nline2",c\nd,e,f\n')
    h = read_csv(spark, p, policy='quoted_rfc')
    rows = _hrows(h, 3)
    assert rows == [['a', 'line1\nline2', 'c'], ['d', 'e', 'f']]


def test_read_whitespace_policy(spark, tmp_path):
    p = _write(tmp_path, 't.txt', '  a   b  c\nd e    f\n')
    h = read_csv(spark, p, policy='whitespace')
    rows = _hrows(h, 3)
    assert rows == [['a', 'b', 'c'], ['d', 'e', 'f']]


def test_read_monocolumn(spark, tmp_path):
    p = _write(tmp_path, 't.txt', 'one line\nanother, line\n')
    h = read_csv(spark, p, policy='monocolumn')
    rows = _hrows(h, 1)
    assert rows == [['one line'], ['another, line']]


def test_read_multichar_separator(spark, tmp_path):
    p = _write(tmp_path, 't.txt', 'a~#~b~#~c\nd~#~e~#~f\n')
    h = read_csv(spark, p, delim='~#~', policy='simple')
    rows = _hrows(h, 3)
    assert rows == [['a', 'b', 'c'], ['d', 'e', 'f']]


def test_read_bom_stripped(spark, tmp_path):
    p = _write(tmp_path, 't.csv', '﻿x,y\n1,2\n')
    h = read_csv(spark, p, with_headers=True)
    assert h.header == ['x', 'y']


def test_read_comment_prefix(spark, tmp_path):
    p = _write(tmp_path, 't.csv', '#comment\na,b\n#another\nc,d\n')
    h = read_csv(spark, p, comment_prefix='#')
    rows = _hrows(h, 2)
    assert rows == [['a', 'b'], ['c', 'd']]


def test_read_latin1(spark, tmp_path):
    p = os.path.join(str(tmp_path), 'l1.csv')
    with open(p, 'wb') as f:
        f.write('caf\xe9,n\xf8\n1,2\n'.encode('latin-1'))
    h = read_csv(spark, p, encoding='latin-1', policy='simple')
    rows = _hrows(h, 2)
    assert rows == [['caf\xe9', 'n\xf8'], ['1', '2']]


def test_read_ragged_nf(spark, tmp_path):
    p = _write(tmp_path, 't.csv', 'a,b,c\nx,y\n')
    h = read_csv(spark, p, policy='simple')
    from rbql_spark import query_dataframe
    res = query_dataframe(spark, 'SELECT NF, a3', h)
    rows = [list(r) for r in res.display_df(ordered=True).collect()]
    assert rows == [[3, 'c'], [2, None]]


# ---- end-to-end query_csv -------------------------------------------------

def test_query_csv_end_to_end(spark, tmp_path):
    p = _write(tmp_path, 'movies.tsv',
               'Movie One\tUSA\t1999\nFilm Two\tFrance\t2005\nShow Three\tUSA\t2001\n')
    out = os.path.join(str(tmp_path), 'out.csv')
    res = query_csv(spark, "SELECT a1, int(a3) WHERE a2 == 'USA' ORDER BY int(a3) DESC",
                    p, output_path=out, delim='\t', policy='simple',
                    out_delim=',', out_policy='quoted')
    with open(out) as f:
        assert f.read() == 'Show Three,2001\nMovie One,1999\n'


def test_query_csv_with_headers_and_join(spark, tmp_path):
    _write(tmp_path, 'capitals.csv', 'country,capital\nusa,Washington\nfrance,Paris\n')
    p = _write(tmp_path, 'people.csv', 'name,country\nalice,usa\nbob,france\ncarol,usa\n')
    res = query_csv(spark,
                    'SELECT a.name, b.capital INNER JOIN capitals.csv ON a.country == b.country',
                    p, with_headers=True)
    rows = [list(r) for r in res.display_df(ordered=True).collect()]
    assert rows == [['alice', 'Washington'], ['bob', 'Paris'], ['carol', 'Washington']]


def test_write_csv_normalization(spark, tmp_path):
    p = _write(tmp_path, 't.csv', '5,x\n7,y\n')
    out = os.path.join(str(tmp_path), 'out.csv')
    res = query_csv(spark, "SELECT int(a1), None, a2.split('x')", p,
                    output_path=out, policy='simple')
    with open(out) as f:
        content = f.read()
    # ints stringified, None → '', list joined by |
    assert content == '5,,|\n7,,y\n'


# ---------------------------------------------------------------------------
# distributed byte-range scans (latin-1 / quoted_rfc above the size gate)

def _handle_rows(handle):
    df = handle.df
    oc = [c for c in df.columns if c == '__src_order']
    if oc:
        df = df.orderBy('__src_order')
    return [tuple(r) for r in df.drop(*oc).collect()], handle.header


def test_latin1_distributed_scan_matches_driver(spark, tmp_path, monkeypatch):
    import rbql_spark.sources.csv as C
    from rbql_spark.tuning import scoped_conf
    p = str(tmp_path / 'big_latin1.csv')
    with open(p, 'wb') as f:
        for i in range(130000):
            if i % 997 == 0:
                f.write(b'#comment\n')
            term = (b'\r\n', b'\n', b'\r')[i % 3]
            f.write(('caf\xe9{0},v\xf8l\x80\xff{1},{0}'.format(i, i * 7))
                    .encode('latin-1') + term)

    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1 << 62)
    drv = _handle_rows(C.read_csv(spark, p, delim=',', policy='simple',
                                  encoding='latin-1', comment_prefix='#'))
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)
    # 256 KB text-scan splits cut the ~3.6 MB file mid-line
    with scoped_conf(spark, {'spark.sql.files.maxPartitionBytes': 256 << 10,
                             'spark.sql.files.openCostInBytes': 64 << 10}):
        h = C.read_csv(spark, p, delim=',', policy='simple',
                       encoding='latin-1', comment_prefix='#')
        # the scan must actually run as multiple text-scan splits
        assert h.df.rdd.getNumPartitions() > 1
        rows = _handle_rows(h)
    assert rows == drv


def test_quoted_rfc_distributed_scan_matches_driver(spark, tmp_path, monkeypatch):
    import rbql_spark.sources.csv as C
    p = str(tmp_path / 'big_rfc.csv')
    with open(p, 'w', encoding='utf-8') as f:
        f.write('id,text,num\n')
        for i in range(3000):
            if i % 499 == 0:
                f.write('#skipme\n')
            if i % 7 == 0:
                f.write('{0},"multi line\nsecond ""line"" {0}\nthird,with,commas",{1}\n'
                        .format(i, i * 3))
            elif i % 11 == 0:
                f.write('{0},"quoted,field {0}",{1}\n'.format(i, i * 3))
            else:
                f.write('{0},plain{0},{1}\n'.format(i, i * 3))

    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1 << 62)
    drv = _handle_rows(C.read_csv(spark, p, delim=',', policy='quoted_rfc',
                                  with_headers=True, comment_prefix='#'))
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)

    # 8 KB byte ranges instead of the 1 MB production floor, so the ~78 KB
    # file spans ten chunks and multi-line records straddle their cuts
    def small_chunks(size, parallelism):
        cuts = list(range(0, size, 8 << 10)) + [size]
        return list(zip(cuts, cuts[1:]))
    monkeypatch.setattr(C, '_chunk_bounds', small_chunks)
    import os as _os
    assert len(C._chunk_bounds(_os.path.getsize(p),
                               spark.sparkContext.defaultParallelism)) > 1
    h = C.read_csv(spark, p, delim=',', policy='quoted_rfc',
                   with_headers=True, comment_prefix='#')
    assert _handle_rows(h) == drv


def test_quoted_rfc_distributed_defective_quote_error_parity(spark, tmp_path, monkeypatch):
    import rbql_spark.sources.csv as C
    from rbql_spark.errors import RbqlIOHandlingError
    p = str(tmp_path / 'bad_rfc.csv')
    with open(p, 'w') as f:
        for i in range(30000):
            f.write('{0},ok{0}\n'.format(i))
        f.write('10,"broken "quote,3\n')
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)
    with pytest.raises(RbqlIOHandlingError, match=r'at record 30001, line 30001'):
        C.read_csv(spark, p, delim=',', policy='quoted_rfc')


def test_comment_regex_honored_on_distributed_utf8_path(spark, tmp_path):
    import rbql_spark.sources.csv as C
    p = str(tmp_path / 'cr.csv')
    with open(p, 'w') as f:
        f.write('a,1\n#skip,2\nb,3\n')
    h = C.read_csv(spark, p, delim=',', policy='simple', comment_regex=r'^#')
    rows, _ = _handle_rows(h)
    assert [r[0] for r in rows] == ['a', 'b']


def test_write_csv_nullable_int_not_floatified(spark, tmp_path):
    # a nullable int column must print as an int ('1', not '1.0') and a
    # null as '' with the warning: the row loop reads exact Python ints
    # through Arrow, and the distributed sink formats by the Spark type
    # because pandas holds nullable int64 as float64
    from rbql_spark.api import query_dataframe
    from rbql_spark.sources.csv import write_csv
    df = spark.createDataFrame([(1, 'a'), (None, 'b')], 'n long, s string')
    res = query_dataframe(spark, 'SELECT a.n, a.s', df)
    out = str(tmp_path / 'o.csv')
    w = write_csv(res, out)
    assert open(out).read() == 'n,s\n1,a\n,b\n'
    assert 'None values in output were replaced by empty strings' in w


def test_write_csv_distributed_matches_row_loop(spark, tmp_path, monkeypatch):
    import rbql_spark.sources.csv as C
    from rbql_spark.api import query_dataframe

    def make_result():
        df = spark.range(30000).selectExpr(
            'id',
            'cast(id as double) / 7 AS d',
            "case when id % 5 = 0 then null else concat('v,', id) end AS s",
            "id % 2 = 0 AS b",
            "case when id % 11 = 0 then null else id * 3 end AS n")
        return query_dataframe(spark, 'SELECT *', df)

    out_r = str(tmp_path / 'rows.csv')
    monkeypatch.setattr(C, '_DISTRIBUTED_SINK_MIN_BYTES', 1 << 62)
    w_r = C.write_csv(make_result(), out_r)

    out_d = str(tmp_path / 'dist.csv')
    monkeypatch.setattr(C, '_DISTRIBUTED_SINK_MIN_BYTES', 0)
    # the distributed path must be the one that runs
    import rbql_spark.api as A
    monkeypatch.setattr(A, 'collect_result_rows',
                        lambda *a, **k: (_ for _ in ()).throw(AssertionError('row loop used')))
    w_d = C.write_csv(make_result(), out_d)

    assert open(out_d, 'rb').read() == open(out_r, 'rb').read()
    assert w_d == w_r


def test_write_csv_simple_header_separator_warns(spark, tmp_path, monkeypatch):
    # policy 'simple' warns when a header field holds the separator, in
    # both sinks
    import rbql_spark.sources.csv as C
    from rbql_spark.api import query_dataframe
    df = spark.createDataFrame([(1,)], '`x;y` long')
    for min_bytes in (1 << 62, 0):
        monkeypatch.setattr(C, '_DISTRIBUTED_SINK_MIN_BYTES', min_bytes)
        out = str(tmp_path / 'h{}.csv'.format(min_bytes))
        w = C.write_csv(query_dataframe(spark, 'SELECT *', df), out,
                        delim=';', policy='simple')
        assert open(out).read() == 'x;y\n1\n'
        assert w == ['Some output fields contain separator']


# ---- read options, header and encoding checks -----------------------------

def _width(handle):
    return len([c for c in handle.df.columns if c.startswith('_c')])


def test_width_cache_keys_on_every_read_option(spark, tmp_path):
    # the probed width of one file version must not leak between reads
    # whose options see different rows
    p = _write(tmp_path, 'w.csv', '#x,y,z,w,v\na,b\n1,2\n3,4')
    assert _width(read_csv(spark, p, comment_prefix='#')) == 2
    h = read_csv(spark, p)
    assert _width(h) == 5
    assert any(w.startswith('Number of fields in "input" table is not consistent')
               for w in h.warnings)


@pytest.mark.parametrize('comment', [{'comment_prefix': '#'}, {'comment_regex': '^#'}])
def test_header_is_first_non_comment_line(spark, tmp_path, comment):
    p = _write(tmp_path, 'c.csv', '#meta,line\nname,age\nalice,30\nbob,25\n')
    res = query_csv(spark, 'SELECT *', p, with_headers=True, **comment)
    assert res.out_names == ['name', 'age']
    assert [list(r) for r in res.display_df(ordered=True).collect()] == \
        [['alice', '30'], ['bob', '25']]


@pytest.mark.parametrize('content,options', [
    ('id,name\r\n1,a\r\n2,b\r\n3,c\r\n', {}),
    ('﻿id,name\n1,a\n2,b\n3,c\n', {}),
    ('#one\n#two\nid,name\n1,a\n#three\n2,b\n3,c\n', {'comment_prefix': '#'}),
    ('﻿#one\n#two\nid,name\n1,a\n2,b\n3,c', {'comment_regex': '^#'}),
], ids=['crlf', 'bom', 'comment_prefix', 'comment_regex'])
@pytest.mark.parametrize('policy', ['quoted', 'simple'])
def test_header_drop_utf8_scan(spark, tmp_path, content, options, policy):
    p = _write(tmp_path, 'h.csv', content)
    out = str(tmp_path / 'o.csv')
    query_csv(spark, 'SELECT *', p, output_path=out, with_headers=True,
              policy=policy, **options)
    assert open(out, 'rb').read() == b'id,name\n1,a\n2,b\n3,c\n'


def test_header_past_first_split_is_still_dropped(spark, tmp_path):
    # a comment preamble longer than the scan's first split puts the header
    # in a later partition, where its order key is not its line index
    preamble = ''.join('#{}\n'.format('x' * 60) for _ in range(1200))
    body = ''.join('{},{}\n'.format(i, i * 2) for i in range(500))
    p = _write(tmp_path, 'late.csv', preamble + 'id,dbl\n' + body)
    key = 'spark.sql.files.maxPartitionBytes'
    old = spark.conf.get(key)
    spark.conf.set(key, str(16 << 10))
    try:
        assert spark.read.text(p).rdd.getNumPartitions() > 4
        out = str(tmp_path / 'o.csv')
        query_csv(spark, 'SELECT * ORDER BY int(a.id)', p, output_path=out,
                  with_headers=True, comment_prefix='#', policy='simple')
    finally:
        spark.conf.set(key, old)
    assert open(out).read() == 'id,dbl\n' + body


@pytest.mark.parametrize('policy', ['simple', 'quoted', 'quoted_rfc'])
def test_latin1_bulk_header_drop_matches_driver(spark, tmp_path, monkeypatch, policy):
    import rbql_spark.sources.csv as C
    p = str(tmp_path / 'h_latin1.csv')
    with open(p, 'wb') as f:
        f.write(b'\xef\xbb\xbf#note\r\ncaf\xe9,"n\xf8"\r\n')
        for i in range(3000):
            f.write('{0},"v\xe9{1}"\r\n'.format(i, i * 7).encode('latin-1'))
            if i % 500 == 0:
                f.write(b'#skip\r\n' if policy != 'quoted_rfc' else b'7,"two\nlines"\r\n')

    def run(name):
        out = str(tmp_path / name)
        query_csv(spark, 'SELECT *', p, output_path=out, encoding='latin-1',
                  policy=policy, with_headers=True, comment_prefix='#')
        return open(out, 'rb').read()

    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1 << 62)
    driver = run('driver.csv')
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)
    assert run('bulk.csv') == driver
    assert driver.startswith(b'caf\xe9,') and b'#' not in driver


def test_utf8_check_spans_read_chunks(spark, tmp_path):
    from rbql_spark.errors import RbqlIOHandlingError
    # a multi-byte character across the 1 MB read boundary is valid UTF-8
    ok = str(tmp_path / 'ok.csv')
    with open(ok, 'wb') as f:
        f.write(b'a' * ((1 << 20) - 1) + 'é,1\n2,3\n'.encode('utf-8'))
    rows, _ = _handle_rows(read_csv(spark, ok, policy='simple'))
    assert rows[-1][:2] == ('2', '3')
    # an invalid byte past the first chunk is still found
    bad = str(tmp_path / 'bad.csv')
    with open(bad, 'wb') as f:
        f.write(b'a,b\n' * (300 << 10) + b'\xff,1\n')
    with pytest.raises(RbqlIOHandlingError,
                       match='Unable to decode input table as UTF-8. '
                             'Use binary \\(latin-1\\) encoding instead'):
        read_csv(spark, bad, policy='simple')


@pytest.mark.parametrize('encoding', ['utf-8', 'latin-1'])
def test_mid_file_bom_is_data(spark, tmp_path, monkeypatch, encoding):
    # a BOM at the file head is stripped with a warning; one that starts a
    # later line is data, as in the reference (latin-1 reads it as 'ï»¿')
    import rbql_spark.sources.csv as C
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)
    p = str(tmp_path / 'bom.csv')
    with open(p, 'wb') as f:
        f.write(b'\xef\xbb\xbfid,name\n1,a\n\xef\xbb\xbf2,b\n')
    h = read_csv(spark, p, policy='simple', encoding=encoding, with_headers=True)
    bom = b'\xef\xbb\xbf'.decode(encoding)
    assert h.header == ['id', 'name']
    assert _handle_rows(h)[0] == [('1', 'a', 2), (bom + '2', 'b', 2)]
    assert h.warnings == ['UTF-8 Byte Order Mark (BOM) was found and skipped '
                          'in input table']
    if encoding == 'latin-1':
        monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1 << 62)
        drv = read_csv(spark, p, policy='simple', encoding=encoding,
                       with_headers=True)
        assert (_handle_rows(drv), drv.warnings) == (_handle_rows(h), h.warnings)


@pytest.mark.parametrize('bulk', [False, True], ids=['driver', 'bulk'])
def test_quoted_rfc_invalid_utf8_raises_decode_error(spark, tmp_path, monkeypatch,
                                                     bulk):
    from rbql_spark.errors import RbqlIOHandlingError
    import rbql_spark.sources.csv as C
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1 if bulk else 1 << 62)
    p = str(tmp_path / 'bad_rfc.csv')
    with open(p, 'wb') as f:
        f.write(b'a,"b\nc"\n\xff,1\n')
    with pytest.raises(RbqlIOHandlingError,
                       match='Unable to decode input table as UTF-8. '
                             'Use binary \\(latin-1\\) encoding instead'):
        read_csv(spark, p, policy='quoted_rfc')


def test_latin1_bulk_reads_through_text_scan(spark, tmp_path, monkeypatch):
    # latin-1 line policies share the utf-8 text scan: no Python stage, and
    # the stream is in source order, so the engine may skip the order sort
    import rbql_spark.sources.csv as C
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES', 1)
    p = str(tmp_path / 'l1.csv')
    with open(p, 'wb') as f:
        f.write(b'caf\xe9,1\r\n\x80\xff,2\r')
    h = read_csv(spark, p, policy='simple', encoding='latin-1')
    plan = h.df._jdf.queryExecution().executedPlan().toString()
    assert 'MapInPandas' not in plan and 'FileScan text' in plan
    assert h.order_src_monotone
    assert _handle_rows(h)[0] == [('caf\xe9', '1', 2), ('\x80\xff', '2', 2)]


def test_csv_join_table_order_key_is_not_a_field(spark, tmp_path):
    # the join table's source-order key must bind as its record order, not
    # as an extra B column (a stray trailing ordinal, a widened bNF)
    _write(tmp_path, 'b.csv', '1,one\n2,two\n')
    p = _write(tmp_path, 'a.csv', '1,x\n2,y\n3,z\n')

    def rows(query):
        res = query_csv(spark, query, p)
        return [list(r) for r in res.display_df(ordered=True).collect()]

    assert rows('SELECT * JOIN b.csv ON a1 == b1') == \
        [['1', 'x', '1', 'one'], ['2', 'y', '2', 'two']]
    assert rows('SELECT a1, bNF LEFT JOIN b.csv ON a1 == b1') == \
        [['1', 2], ['2', 2], ['3', 2]]
    assert rows('SELECT a1, b2 JOIN b.csv ON a1 == b1 ORDER BY bNR DESC') == \
        [['2', 'two'], ['1', 'one']]


def test_csv_join_table_honours_comment_regex(spark, tmp_path):
    # a join table is read with every read option of the input
    _write(tmp_path, 'b.csv', '1,one\n2,two skip\n')
    p = _write(tmp_path, 'a.csv', '1,x\n2,y\n3,skip\n')
    res = query_csv(spark, 'SELECT a1, b2 JOIN b.csv ON a1 == b1', p,
                    comment_regex='skip')
    assert [list(r) for r in res.display_df(ordered=True).collect()] == \
        [['1', 'one']]


@pytest.mark.parametrize('encoding,bulk', [('utf-8', False),
                                           ('latin-1', False),
                                           ('latin-1', True)])
def test_inconsistent_width_warning_names_first_records(spark, tmp_path,
                                                        monkeypatch,
                                                        encoding, bulk):
    # every reader reports the first record of each width, as the
    # driver-side reader does
    import rbql_spark.sources.csv as C
    monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES',
                        1 if bulk else 1 << 62)
    p = _write(tmp_path, 'w.csv', '1,2\n3,4\n5,6\n7,8,9\n10,11\n')
    h = read_csv(spark, p, policy='simple', encoding=encoding)
    assert h.warnings == ['Number of fields in "input" table is not '
                          'consistent: e.g. record 1 -> 2 fields, '
                          'record 4 -> 3 fields']


@pytest.mark.parametrize('option', ['comment_prefix', 'comment_regex'])
def test_empty_comment_filter_keeps_every_row(spark, tmp_path, monkeypatch, option):
    # an empty comment prefix or regex means "no comment filter" under
    # every policy and reader, as an absent one does
    import rbql_spark.sources.csv as C
    p = _write(tmp_path, 'plain.csv', 'a,b\n1,2\n')
    got = {}
    for policy, bulk in [('simple', False), ('quoted_rfc', False),
                         ('quoted_rfc', True)]:
        monkeypatch.setattr(C, '_DISTRIBUTED_SCAN_MIN_BYTES',
                            1 if bulk else 1 << 62)
        h = read_csv(spark, p, policy=policy, **{option: ''})
        got[(policy, bulk)] = tuple(_handle_rows(h)[0])
    assert len(set(got.values())) == 1, got
    assert [r[:2] for r in got[('simple', False)]] == [('a', 'b'), ('1', '2')]
