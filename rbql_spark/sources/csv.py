"""CSV/TSV source & sink with the reference's dialect matrix.

Split policies (reference rbql_csv.py:318-504, csv_utils.py:4-80 — behavior
reimplemented, not copied):

  simple      plain split on a (possibly multichar) delimiter  → native F.split
  whitespace  runs of spaces                                    → native
  monocolumn  whole line = one field                            → native
  quoted      RFC quotes within one line; defective-quote warning
              → Arrow-batched Python splitter (mapInPandas)
  quoted_rfc  RFC-4180 incl. multiline quoted fields
              → driver-side record assembly below 4 MB; larger files take a
                two-pass, quote-parity-reconciled byte-range scan

Encodings: utf-8 and latin-1.  A utf-8 file is checked once per file version
before any read, so a bad byte raises the reference's decode error on every
path.  The four line policies read both encodings through Spark's text scan
(which ends lines at CRLF, CR or LF and drops a BOM at byte 0); latin-1
lines are decoded from the scan's raw bytes.  Below 4 MB a latin-1 file is
read on the driver, as is a quoted_rfc file in either encoding.  A BOM at
the file head is stripped with a warning; one that starts a later line is
data, as in the reference.  Headers, the CLI's dialect autodetection and
its preview read the file head through one reader (``head_records``).
Ragged rows supported: rows are padded to table width, true per-row NF
rides along in __nf_src (engine safe_get parity: missing → None).
"""

from __future__ import annotations

import codecs
import itertools
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..binding import NF_SRC_COL, ORDER_SRC_COL, TableHandle
from ..errors import RbqlIOHandlingError

# RFC quoted field: "((?:[^"]*"")*[^"]*)" with optional outer whitespace
_FIELD_RGX = re.compile(r'"((?:[^"]*"")*[^"]*)"')
_FIELD_RGX_WS = re.compile(r' *"((?:[^"]*"")*[^"]*)" *')


def split_quoted(src: str, dlm: str) -> tuple[list[str], bool]:
    """RFC-style quoted split; returns (fields, defective_quoting_warning)."""
    if '"' not in src:
        return src.split(dlm), False
    allow_ws = dlm != ' '
    rgx = _FIELD_RGX_WS if allow_ws else _FIELD_RGX
    result: list[str] = []
    warning = False
    cidx = 0
    n = len(src)
    while cidx < n:
        m = rgx.match(src, cidx)
        if m is not None and (m.end() == n or src[m.end()] == dlm):
            result.append(m.group(1).replace('""', '"'))
            cidx = m.end() + 1
            continue
        if m is not None:
            warning = True
        uidx = src.find(dlm, cidx)
        if uidx == -1:
            uidx = n
        field = src[cidx:uidx]
        warning = warning or '"' in field
        result.append(field)
        cidx = uidx + 1
    if src and src[-1] == dlm:
        result.append('')
    return result, warning


def split_whitespace(src: str) -> list[str]:
    return re.findall(r'[^ ]+', src)


def _record_split_rfc(content: str, dlm: str, comment_prefix: str | None = None,
                      table_name: str = 'input',
                      comment_regex: str | None = None) -> list[list[str]]:
    """Assemble multiline RFC records (reference get_row_rfc,
    rbql_csv.py:420-439): a line with an odd number of double quotes opens a
    multiline record that closes at the next odd-quote line.  Comment lines
    are filtered at record boundaries only.  Defective quoting is a hard
    error carrying (record, line) ordinals (rbql_csv.py:461-468)."""
    lines = re.split(r'\r\n|\r|\n', content)
    if lines and lines[-1] == '':
        lines.pop()
    records: list[list[str]] = []
    idx, nl, nr = 0, 0, 0
    n = len(lines)
    while idx < n:
        line = lines[idx]
        idx += 1
        nl += 1
        if comment_prefix and line.startswith(comment_prefix):
            continue
        if comment_regex and re.search(comment_regex, line) is not None:
            continue
        rows = [line]
        if line.count('"') % 2 == 1:
            while idx < n:
                nxt = lines[idx]
                idx += 1
                nl += 1
                rows.append(nxt)
                if nxt.count('"') % 2 == 1:
                    break
        logical = '\n'.join(rows)
        nr += 1
        fields, warning = split_quoted(logical, dlm)
        if warning:
            raise RbqlIOHandlingError(
                'Inconsistent double quote escaping in {} table at record {}, line {}'
                .format(table_name, nr, nl))
        records.append(fields)
    return records


def _strip_bom(text: str) -> tuple[str, bool]:
    if text.startswith('\ufeff'):
        return text[1:], True
    if text.startswith('\xef\xbb\xbf'):
        # UTF-8 BOM bytes seen through latin-1 decoding (reference
        # remove_utf8_bom handles both, rbql_csv.py:47-56)
        return text[3:], True
    return text, False


def read_csv(spark: SparkSession, path: str, delim: str = ',',
             policy: str = 'quoted', encoding: str = 'utf-8',
             with_headers: bool = False, comment_prefix: str | None = None,
             strip_whitespaces: bool = False,
             comment_regex: str | None = None) -> TableHandle:
    if delim == '"' and policy in ('quoted', 'quoted_rfc'):
        raise RbqlIOHandlingError('Double quote delimiter is incompatible with "quoted" policy')
    if encoding not in ('utf-8', 'latin-1'):
        raise RbqlIOHandlingError('Unsupported encoding: ' + encoding)

    # every option that changes which rows the width probe sees
    width_key = (path, delim, policy, encoding, with_headers, comment_prefix,
                 comment_regex, strip_whitespaces)
    local = os.path.exists(path)
    if local and encoding == 'utf-8':
        _check_utf8(path)
    bulk = local and os.path.getsize(path) >= _DISTRIBUTED_SCAN_MIN_BYTES
    if policy == 'quoted_rfc' and bulk:
        return _read_csv_rfc_distributed(spark, path, delim, encoding,
                                         with_headers, comment_prefix,
                                         strip_whitespaces, comment_regex,
                                         width_key)
    if policy == 'quoted_rfc' or (encoding == 'latin-1' and not bulk):
        return _read_csv_driver_side(spark, path, delim, policy, encoding,
                                     with_headers, comment_prefix, strip_whitespaces,
                                     comment_regex=comment_regex)
    return _read_csv_distributed(spark, path, delim, policy, encoding, with_headers,
                                 comment_prefix, strip_whitespaces, comment_regex,
                                 width_key)


def _collect_translating(df):
    """Collect an eager probe, mapping executor-raised RbqlIOHandlingError
    (e.g. defective RFC quoting found by a distributed scan task) back to
    the reference error taxonomy instead of a Py4J traceback."""
    try:
        return df.collect()
    except RbqlIOHandlingError:
        raise
    except Exception as e:
        m = re.search(r'RbqlIOHandlingError: (.*?)(?:\n|$)', str(e))
        if m:
            raise RbqlIOHandlingError(m.group(1).strip()) from None
        raise


_UTF8_ERROR = 'Unable to decode input table as UTF-8. Use binary (latin-1) encoding instead'
_BOM_WARNING = 'UTF-8 Byte Order Mark (BOM) was found and skipped in input table'


def _file_version(path: str) -> tuple:
    """(absolute path, mtime, size): one version of a local file."""
    st = os.stat(path)
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


# file version + read options → probed (max field count, warnings); the
# probe is a full pass over the file, worth one dict entry to not repeat
# per query
_WIDTH_CACHE: dict = {}


def _cached_width(width_key, compute):
    path, *opts = width_key
    try:
        key = _file_version(path) + tuple(opts)
    except OSError:
        return compute()
    if key not in _WIDTH_CACHE:
        _WIDTH_CACHE[key] = compute()
    return _WIDTH_CACHE[key]


# versions of local files that decoded as UTF-8 in full
_UTF8_CHECKED: set = set()


def _check_utf8(path: str) -> None:
    """Raise the reference's decode error unless the whole local file is
    UTF-8 (rbql_csv.py:416-417; spark.read.text would silently replace bad
    bytes, and no later decode of the file can fail once this passed).
    Decodes 1 MB at a time, once per file version."""
    key = _file_version(path)
    if key not in _UTF8_CHECKED:
        decoder = codecs.getincrementaldecoder('utf-8')()
        with open(path, 'rb') as f:
            try:
                while chunk := f.read(1 << 20):
                    decoder.decode(chunk)
                decoder.decode(b'', final=True)
            except UnicodeDecodeError:
                raise RbqlIOHandlingError(_UTF8_ERROR) from None
        _UTF8_CHECKED.add(key)


def _bom_pre_warnings(path: str) -> list[str]:
    with open(path, 'rb') as f:
        head = f.read(3)
    return [_BOM_WARNING] if head == codecs.BOM_UTF8 else []


def _arrays_to_handle(arr_df: DataFrame, header: list[str] | None, width_key,
                      pre_warnings: list[str]) -> TableHandle:
    """(fields, [__bad_quoting,] __src_order) → fixed-width handle (+ per-row NF).

    The width probe is ONE aggregation pass that also yields the
    inconsistent-field-count and defective-quoting warnings (reference
    surfaces both, rbql_csv.py:118-126,496-504); the split is vectorized and
    cheap, so re-splitting per query beats materializing field arrays into
    the block store."""
    has_bad = '__bad_quoting' in arr_df.columns

    def compute():
        aggs = [F.min(ORDER_SRC_COL).alias('first_at'), F.count(F.lit(1)).alias('cnt')]
        if has_bad:
            aggs.append(F.max(F.col('__bad_quoting').cast('int')).alias('bad'))
        rows = _collect_translating(arr_df.groupBy(F.size('fields').alias('w')).agg(*aggs))
        sizes = sorted((r['w'], r['first_at']) for r in rows)
        probe_warnings = []
        if len(sizes) > 1:
            by_first = sorted(rows, key=lambda r: r['first_at'])
            # the first width starts at record 1; the second width's first
            # record is 1 + the records before it in source order
            before = _collect_translating(arr_df.agg(F.count_if(
                F.col(ORDER_SRC_COL) < by_first[1]['first_at'])))[0][0]
            probe_warnings.append(
                'Number of fields in "input" table is not consistent: '
                'e.g. record {} -> {} fields, record {} -> {} fields'.format(
                    1, by_first[0]['w'], before + 1, by_first[1]['w']))
        if has_bad and any(r['bad'] for r in rows):
            probe_warnings.append('Inconsistent double quote escaping in input table')
        return (max((w for w, _ in sizes), default=1) or 1, probe_warnings)

    width, probe_warnings = _cached_width(width_key, compute)
    if header is not None:
        width = max(width, len(header))
    cols = [F.try_element_at('fields', F.lit(i + 1)).alias('_c{}'.format(i)) for i in range(width)]
    cols += [F.size('fields').alias(NF_SRC_COL), F.col(ORDER_SRC_COL)]
    return TableHandle(df=arr_df.select(cols), header=header,
                       warnings=pre_warnings + probe_warnings)


def _read_csv_distributed(spark, path, delim, policy, encoding, with_headers,
                          comment_prefix, strip_whitespaces, comment_regex,
                          width_key) -> TableHandle:
    """Line-based policies: distributed text scan + split.  The scan ends
    lines at CRLF, CR or LF (also across split edges), drops a BOM at byte
    0 and keeps each line's raw bytes, which latin-1 decodes one to one."""
    pre_warnings = _bom_pre_warnings(path) if os.path.exists(path) else []
    # capture input order at the scan: NR and sort stability derive from
    # this key.  The lines are not spread by an exchange: the text scan
    # already splits a file larger than spark.sql.files.openCostInBytes
    # (4 MB) over the cores, and below that a range exchange
    # and its sampling job cost more than the split they would spread
    # (measured on 3 and 8 MB quoted files).  The stream is therefore
    # partition-major ORDER_SRC-ascending, so the engine may skip the
    # output-restoring sort (order_src_monotone).
    df = spark.read.text(path)
    if encoding == 'latin-1':
        df = df.select(F.decode(F.col('value').cast('binary'), 'ISO-8859-1').alias('value'))
    df = df.withColumn(ORDER_SRC_COL, F.monotonically_increasing_id())
    arr_df = _split_lines(_drop_comments(df, comment_prefix, comment_regex),
                          delim, policy, strip_whitespaces)
    header = None
    if with_headers:
        conf = spark._jsparkSession.sessionState().conf()
        # no text-scan split is shorter than this
        min_split = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
        header, arr_df = _drop_header(arr_df, path, delim, policy, encoding,
                                      comment_prefix, comment_regex,
                                      strip_whitespaces, min_split)
    handle = _arrays_to_handle(arr_df, header, width_key, pre_warnings)
    handle.order_src_monotone = True
    return handle


def _drop_comments(lines_df: DataFrame, comment_prefix, comment_regex) -> DataFrame:
    if comment_prefix:
        lines_df = lines_df.filter(~F.col('value').startswith(comment_prefix))
    if comment_regex:
        # re.search semantics; Java regex (rlike) accepts the same
        # grammar for the common prefix/anchor patterns
        lines_df = lines_df.filter(~F.col('value').rlike(comment_regex))
    return lines_df


def _split_lines(lines_df: DataFrame, delim, policy, strip_whitespaces) -> DataFrame:
    """(value, __src_order) lines → (fields, [__bad_quoting,] __src_order)."""
    if policy == 'quoted':
        return _split_quoted_distributed(lines_df, delim, strip_whitespaces)
    if policy == 'simple':
        arr = F.split(F.col('value'), re.escape(delim), -1)
    elif policy == 'whitespace':
        trimmed = F.regexp_replace(F.regexp_replace(F.col('value'), '^ +', ''), ' +$', '')
        arr = F.when(trimmed == '', F.array(F.lit('')))\
               .otherwise(F.split(trimmed, ' +', -1))
    elif policy == 'monocolumn':
        arr = F.array(F.col('value'))
    else:
        raise RbqlIOHandlingError('unknown split policy: ' + policy)
    if strip_whitespaces:
        arr = F.transform(arr, lambda x: F.trim(x))
    return lines_df.select(arr.alias('fields'), F.col(ORDER_SRC_COL))


def _split_quoted_distributed(lines_df: DataFrame, delim, strip_whitespaces) -> DataFrame:
    """quoted (single-line) policy: Arrow-batched Python splitter."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField('fields', T.ArrayType(T.StringType()), True),
        T.StructField('__bad_quoting', T.BooleanType(), True),
        T.StructField(ORDER_SRC_COL, T.LongType(), True),
    ])
    dlm = delim
    strip = strip_whitespaces

    def run(batches):
        import pandas as pd

        # vectorized fast paths (C string ops) covering the two dominant row
        # shapes; rows with irregular quoting fall back to the exact
        # reference-parity splitter
        strict_rgx = r'^"[^"]*"(?:{}"[^"]*")*$'.format(re.escape(dlm))
        for pdf in batches:
            values = pdf['value'].fillna('')
            has_quote = values.str.contains('"', regex=False)
            strict = values.str.match(strict_rgx)
            fields_out = pd.Series([None] * len(pdf), index=pdf.index, dtype='object')
            warn_out = pd.Series([False] * len(pdf), index=pdf.index)
            plain_mask = ~has_quote
            if plain_mask.any():
                fields_out[plain_mask] = values[plain_mask].str.split(re.escape(dlm), regex=True)
            quoted_mask = has_quote & strict
            if quoted_mask.any():
                inner = values[quoted_mask].str.slice(1, -1)
                fields_out[quoted_mask] = inner.str.split('"' + dlm + '"', regex=False)
            slow_mask = has_quote & ~strict
            if slow_mask.any():
                for i in pdf.index[slow_mask]:
                    fields, warning = split_quoted(values[i], dlm)
                    fields_out[i] = fields
                    warn_out[i] = warning
            if strip:
                fields_out = fields_out.map(lambda fs: [f.strip() for f in fs])
            yield pd.DataFrame({'fields': fields_out, '__bad_quoting': warn_out,
                                ORDER_SRC_COL: pdf[ORDER_SRC_COL]})

    return lines_df.mapInPandas(run, schema=schema)


def _drop_header(arr_df: DataFrame, path, delim, policy, encoding, comment_prefix,
                 comment_regex, strip_whitespaces, first_part_bytes: int):
    """Read the header on the driver and filter its row out of ``arr_df``;
    returns (header, arr_df).

    The scan partition that starts at byte 0 numbers its lines 0, 1, …
    (monotonically_increasing_id in partition 0), so a header that starts
    within its first ``first_part_bytes`` has its line index as order key
    and the filter costs no job.  A header past that (a long comment
    preamble) is found with one eager min() job."""
    header, index, offset = next(
        head_records(path, delim, policy, encoding, comment_prefix,
                     comment_regex, strip_whitespaces), ([], None, None))
    if index is None:
        return header, arr_df
    key = index if offset < first_part_bytes else \
        arr_df.agg(F.min(ORDER_SRC_COL)).collect()[0][0]
    return header, arr_df.filter(F.col(ORDER_SRC_COL) != key)


def _iter_head_lines(path: str, encoding: str):
    """(line index, start byte offset, line) of a file, read lazily from its
    head and decoded; lines end at CRLF, CR or LF, as the scans split them,
    and a BOM at the head is stripped."""
    with open(path, 'rb') as f:
        buf, offset, index, eof = b'', 0, 0, False
        while True:
            m = _TERM_B.search(buf)
            # at the buffer's end a \r may still pair with the next \n
            if not eof and (m is None or m.end() == len(buf)):
                chunk = f.read(1 << 16)
                eof = not chunk
                buf += chunk
                continue
            if m is None and not buf:
                return
            line = (buf if m is None else buf[:m.start()]).decode(encoding)
            yield index, offset, _strip_bom(line)[0] if index == 0 else line
            if m is None:
                return
            offset += m.end()
            buf = buf[m.end():]
            index += 1


def _split_line(line: str, delim: str, policy: str) -> tuple[list[str], bool]:
    """One line (or assembled quoted_rfc record) split by ``policy``, as the
    scans split it; returns (fields, defective_quoting_warning)."""
    if policy == 'simple':
        return line.split(delim), False
    if policy == 'whitespace':
        return split_whitespace(line), False
    if policy == 'monocolumn':
        return [line], False
    return split_quoted(line, delim)


def head_records(path, delim, policy, encoding, comment_prefix=None,
                 comment_regex=None, strip_whitespaces=False):
    """(fields, line index, start byte offset) of each record at a file's
    head, read lazily on the driver: the header of every read path, and the
    CLI's dialect autodetection and preview.  Comment lines are skipped; a
    quoted_rfc record is assembled by the bulk scan's record rule and
    placed at its first line."""
    crgx = re.compile(comment_regex) if comment_regex else None
    lines = _iter_head_lines(path, encoding)
    if policy == 'quoted_rfc':
        records = _rfc_head_records(lines, comment_prefix, crgx)
    else:
        records = (([line], index, offset) for index, offset, line in lines
                   if not (comment_prefix and line.startswith(comment_prefix))
                   and not (crgx is not None and crgx.search(line) is not None))
    for rows, index, offset in records:
        fields, _ = _split_line('\n'.join(rows), delim, policy)
        if strip_whitespaces:
            fields = [x.strip() for x in fields]
        yield fields, index, offset


def _rfc_head_records(lines, comment_prefix, comment_rgx):
    """(index, offset, line) head lines → (record's lines, index, offset of
    its first line) under the RFC record rule."""
    # _rfc_scan yields one item per line it consumes, so the two branches
    # of the tee stay in step
    lines, texts = itertools.tee(lines)
    scan = _rfc_scan((line for _, _, line in texts), 0, comment_prefix, comment_rgx)
    rows = []
    for (index, offset, _), (record, line, parity) in zip(lines, scan):
        if record is None:
            continue
        if not rows:
            start = index, offset
        rows.append(line)
        if parity == 0:
            yield rows, *start
            rows = []
    if rows:
        yield rows, *start


# ---------------------------------------------------------------------------
# distributed byte-range scan (multiline-RFC policy)
#
# Files at/above this size no longer decode on the driver: a latin-1 file
# with a line policy takes the text scan, and a quoted_rfc file is cut into
# byte ranges (Hadoop-split semantics: a task owns the lines that START in
# its range and reads past the edge to finish its last line), so a 1 TB
# file scans on every core instead of one.
_DISTRIBUTED_SCAN_MIN_BYTES = 4 << 20

_TERM_B = re.compile(rb'\r\n|\r|\n')


def _iter_chunk_lines(path: str, start: int, end: int):
    """Yield raw byte lines whose FIRST byte lies in [start, end).

    Reading begins one byte early so the task can classify whether `start`
    itself is a line start and see a CRLF pair straddling the edge; latin-1
    is single-byte and UTF-8 line terminators are ASCII-disjoint, so byte
    ranges never split a character across tasks in a way that matters here.
    """
    with open(path, 'rb') as f:
        base = start - 1 if start > 0 else 0
        f.seek(base)
        data = f.read(end - base)
        eof = len(data) < end - base
        state = {'data': data, 'eof': eof}

        def extend() -> bool:
            if state['eof']:
                return False
            chunk = f.read(1 << 20)
            if not chunk:
                state['eof'] = True
                return False
            state['data'] += chunk
            return True

        if start == 0:
            pos = 0
        else:
            m = _TERM_B.search(state['data'])
            while m is None and extend():          # line longer than the chunk
                m = _TERM_B.search(state['data'])
            if m is None:
                return                             # no line starts here
            while m.group() == b'\r' and m.end() == len(state['data']) and extend():
                m = _TERM_B.search(state['data'], m.start())
            pos = m.end()
        while base + pos < end:
            m = _TERM_B.search(state['data'], pos)
            while m is None and extend():
                m = _TERM_B.search(state['data'], pos)
            if m is None:                          # unterminated final line
                yield state['data'][pos:]
                return
            while m.group() == b'\r' and m.end() == len(state['data']) and extend():
                m = _TERM_B.search(state['data'], pos)
            yield state['data'][pos:m.start()]
            pos = m.end()


def _chunk_bounds(size: int, parallelism: int) -> list[tuple[int, int]]:
    target = min(max(size // max(parallelism, 1), 1 << 20), 128 << 20)
    bounds = list(range(0, size, target)) + [size]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def _chunk_text_lines(path: str, bounds, cid: int, encoding: str) -> list[str]:
    """Decoded lines of byte range ``cid``; a BOM at the file head is
    stripped."""
    s, e = bounds[cid]
    lines = [raw.decode(encoding) for raw in _iter_chunk_lines(path, s, e)]
    if s == 0 and lines:
        lines[0] = _strip_bom(lines[0])[0]
    return lines


def _rfc_scan(lines, parity: int, comment_prefix, comment_rgx):
    """The RFC record grammar over a run of lines, lazily: yields (record
    ordinal in the run, line, parity after the line) per line.  A line at
    even parity that matches the comment filter is skipped, with ordinal
    None (reference checks comments only at record boundaries,
    rbql_csv.py:420-439); any other line flips parity by its quote-count,
    and a record ends whenever parity returns to even.
    """
    record = 0
    for line in lines:
        if parity == 0 and (
                (comment_prefix and line.startswith(comment_prefix))
                or (comment_rgx is not None and comment_rgx.search(line) is not None)):
            yield None, line, parity
            continue
        parity = (parity + line.count('"')) % 2
        yield record, line, parity
        if parity == 0:
            record += 1


def _read_csv_rfc_distributed(spark, path, delim, encoding, with_headers,
                              comment_prefix, strip_whitespaces, comment_regex,
                              width_key) -> TableHandle:
    """quoted_rfc at bulk size: two distributed passes + one tiny reduce.

    Multiline records make line ownership context-dependent (a line belongs
    to the record opened by the last odd-quote line).  Record boundaries
    depend only on quote-count PARITY, so:
      pass 1  per chunk: line/quote tallies for both possible start
              parities → driver folds chunk transitions into each chunk's
              true start parity + global record/line offsets (tiny rows,
              one per chunk);
      pass 2  per chunk: re-scan with the known start parity, emit
              (record_id, line_no, text); records sharing an id are
              reassembled by a groupBy shuffle and split with the exact
              reference-parity splitter (Arrow-batched).
    Defective quoting is a hard error carrying global record+line ordinals
    (rbql_csv.py:461-468), raised from the verify stage.
    """
    size = os.path.getsize(path)
    bounds = _chunk_bounds(size, spark.sparkContext.defaultParallelism)
    n = len(bounds)
    spec = spark.range(0, n, 1, numPartitions=n)
    cpfx, crgx_s = comment_prefix, comment_regex

    def tally(batches):
        import pandas as pd
        crgx = re.compile(crgx_s) if crgx_s else None
        for pdf in batches:
            rows = []
            for cid in pdf['id']:
                lines = _chunk_text_lines(path, bounds, int(cid), encoding)
                row = [int(cid), len(lines)]
                for start in (0, 1):
                    parity, ends = start, 0
                    for record, _, parity in _rfc_scan(lines, start, cpfx, crgx):
                        ends += record is not None and parity == 0
                    row += [parity, ends]
                rows.append(row)
            yield pd.DataFrame(rows, columns=['cid', 'n_lines', 'p0', 'e0', 'p1', 'e1'])

    stats = {int(r['cid']): r for r in
             spec.mapInPandas(tally, 'cid long, n_lines long, p0 int, e0 long, p1 int, e1 long')
             .collect()}
    start_parity: dict[int, int] = {}
    rec_offset: dict[int, int] = {}
    line_offset: dict[int, int] = {}
    par, recs, nlines = 0, 0, 0
    for cid in range(n):
        start_parity[cid], rec_offset[cid], line_offset[cid] = par, recs, nlines
        r = stats[cid]
        par = r['p1'] if par else r['p0']
        recs += r['e1'] if start_parity[cid] else r['e0']
        nlines += r['n_lines']

    def emit(batches):
        import pandas as pd
        crgx = re.compile(crgx_s) if crgx_s else None
        for pdf in batches:
            for cid in pdf['id']:
                cid = int(cid)
                lines = _chunk_text_lines(path, bounds, cid, encoding)
                rid, lno, txt = [], [], []
                for i, (record, line, _) in enumerate(
                        _rfc_scan(lines, start_parity[cid], cpfx, crgx)):
                    if record is None:
                        continue
                    rid.append(rec_offset[cid] + record)
                    lno.append(line_offset[cid] + i)
                    txt.append(line)
                yield pd.DataFrame({'rid': pd.Series(rid, dtype='int64'),
                                    'lno': pd.Series(lno, dtype='int64'),
                                    'value': pd.Series(txt, dtype='object')})

    lines_df = spec.mapInPandas(emit, 'rid long, lno long, value string')
    assembled = (lines_df
                 .groupBy('rid')
                 # last line: the reference's line counter points at the
                 # final line of the record when it raises
                 .agg(F.max('lno').alias('last_line'),
                      F.array_join(
                          F.transform(
                              F.array_sort(F.collect_list(F.struct('lno', 'value'))),
                              lambda x: x['value']),
                          '\n').alias('logical')))

    dlm, strip = delim, strip_whitespaces

    def split_records(batches):
        import pandas as pd
        for pdf in batches:
            fields_out = []
            for logical, rid, last_line in zip(pdf['logical'], pdf['rid'], pdf['last_line']):
                fields, warning = split_quoted(logical, dlm)
                if warning:
                    raise RbqlIOHandlingError(
                        'Inconsistent double quote escaping in input table at record {}, line {}'
                        .format(int(rid) + 1, int(last_line) + 1))
                if strip:
                    fields = [f.strip() for f in fields]
                fields_out.append(fields)
            yield pd.DataFrame({'fields': pd.Series(fields_out, dtype='object'),
                                ORDER_SRC_COL: pdf['rid']})

    arr_df = assembled.mapInPandas(
        split_records, 'fields array<string>, {} long'.format(ORDER_SRC_COL))
    header = None
    if with_headers:
        header = next(head_records(path, delim, 'quoted_rfc', encoding, comment_prefix,
                                   comment_regex, strip_whitespaces), ([],))[0]
        # the header is the first record, whose id is 0
        arr_df = arr_df.filter(F.col(ORDER_SRC_COL) != 0)
    return _arrays_to_handle(arr_df, header, width_key, _bom_pre_warnings(path))


def _read_csv_driver_side(spark, path, delim, policy, encoding, with_headers,
                          comment_prefix, strip_whitespaces,
                          comment_regex: str | None = None) -> TableHandle:
    """Files below the bulk size in latin-1, and quoted_rfc: decode +
    record-assemble on the driver, then parallelize."""
    with open(path, 'rb') as f:
        content = f.read().decode(encoding)
    content, _bom = _strip_bom(content)
    warnings: list[str] = []
    if _bom:
        warnings.append(_BOM_WARNING)
    if policy == 'quoted_rfc':
        recs = _record_split_rfc(content, delim, comment_prefix=comment_prefix,
                                 comment_regex=comment_regex)
    else:
        rows = [ln for ln in re.split(r'\r\n|\r|\n', content)]
        if rows and rows[-1] == '':
            rows.pop()
        if comment_prefix:
            rows = [ln for ln in rows if not ln.startswith(comment_prefix)]
        if comment_regex:
            _crgx = re.compile(comment_regex)
            rows = [ln for ln in rows if _crgx.search(ln) is None]
        records = [_split_line(ln, delim, policy) for ln in rows]
        recs = [r[0] for r in records]
        first_bad = next((i for i, r in enumerate(records) if r[1]), None)
        if first_bad is not None:
            warnings.append(
                'Inconsistent double quote escaping in input table. E.g. at line {}'
                .format(first_bad + 1))
    if strip_whitespaces:
        recs = [[f.strip() for f in r] for r in recs]
    header = None
    if with_headers and recs:
        header = recs.pop(0)
    widths = sorted({len(r) for r in recs})
    if len(widths) > 1:
        first_by_width = {}
        for i, r in enumerate(recs):
            first_by_width.setdefault(len(r), i + 1)
        pairs = sorted(first_by_width.items(), key=lambda kv: kv[1])[:2]
        warnings.append(
            'Number of fields in "input" table is not consistent: '
            'e.g. record {} -> {} fields, record {} -> {} fields'.format(
                pairs[0][1], pairs[0][0], pairs[1][1], pairs[1][0]))
    width = max((len(r) for r in recs), default=1)
    if header is not None:
        width = max(width, len(header))
    padded = [tuple(r + [None] * (width - len(r)) + [len(r)]) for r in recs]
    from pyspark.sql import types as T
    fields = [T.StructField('_c{}'.format(i), T.StringType(), True) for i in range(width)]
    fields.append(T.StructField(NF_SRC_COL, T.IntegerType(), True))
    schema = T.StructType(fields)
    df = spark.createDataFrame(padded, schema=schema) if padded else \
        spark.createDataFrame([], schema=schema)
    return TableHandle(df=df, header=header, warnings=warnings)


# ---------------------------------------------------------------------------
# sink

def _normalize_out_value(v, delim: str, warnings: set[str]) -> str:
    if v is None:
        warnings.add('None values in output were replaced by empty strings')
        return ''
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return 'True' if v else 'False'
    if isinstance(v, (list, tuple)):
        sub = ';' if delim == '|' else '|'
        return sub.join(_normalize_out_value(x, delim, warnings) for x in v)
    return str(v)


def _quote_field(s: str, delim: str) -> str:
    if delim in s or '"' in s or '\n' in s or '\r' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


_SCALAR_SINK_TYPES = None  # populated lazily (pyspark types import)


def _sink_scalar_types():
    global _SCALAR_SINK_TYPES
    if _SCALAR_SINK_TYPES is None:
        from pyspark.sql import types as T
        _SCALAR_SINK_TYPES = (T.StringType, T.LongType, T.IntegerType,
                              T.DoubleType, T.FloatType, T.BooleanType,
                              T.ShortType, T.ByteType)
    return _SCALAR_SINK_TYPES


def _serialize_pdf(pdf, field_types, delim, policy):
    """pandas rows → serialized CSV line Series + (n_null, n_sep) counts.

    Formatting is driven by the SPARK type, not the pandas dtype: Arrow
    hands a nullable int64 column to pandas as float64, so dtype-driven
    str() would corrupt 1 into '1.0'.  Floats stringify via the Python
    repr (reference writer parity, rbql_csv.py:258-277)."""
    import pandas as pd
    from pyspark.sql import types as T
    n_null = 0
    n_sep = 0
    cols = []
    for name, dt in zip(pdf.columns, field_types):
        sc = pdf[name]
        nulls = sc.isnull()
        cnull = int(nulls.sum())
        n_null += cnull
        if isinstance(dt, T.StringType):
            sc = (sc.where(~nulls, '') if cnull else sc).astype(str)
        elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            if cnull == 0 and sc.dtype.kind in 'iu':
                sc = sc.astype(str)
            else:
                sc = sc.map(lambda v: '' if pd.isna(v) else str(int(v)))
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            sc = sc.map(lambda v: '' if pd.isna(v) else str(float(v)))
        elif isinstance(dt, T.BooleanType):
            sc = sc.map(lambda v: '' if pd.isna(v) else ('True' if v else 'False'))
        else:  # unreachable behind the scalar-schema gate
            sc = sc.map(lambda v: '' if pd.isna(v) else str(v))
        if policy in ('quoted', 'quoted_rfc'):
            need = sc.str.contains(delim, regex=False) | sc.str.contains('"', regex=False) \
                | sc.str.contains('\n', regex=False) | sc.str.contains('\r', regex=False)
            if need.any():
                esc = '"' + sc[need].str.replace('"', '""', regex=False) + '"'
                sc = sc.copy()
                sc[need] = esc
        elif policy == 'simple':
            n_sep += int(sc.str.contains(delim, regex=False).sum())
        cols.append(sc)
    if not cols:
        return pd.Series([], dtype='object'), n_null, n_sep
    line = cols[0].str.cat(cols[1:], sep=delim) if len(cols) > 1 else cols[0]
    return line, n_null, n_sep


def _format_record(vals, delim, policy, warnings) -> str:
    """One output record (header or row) as a line without its terminator."""
    normd = [_normalize_out_value(v, delim, warnings) for v in vals]
    if policy in ('quoted', 'quoted_rfc'):
        normd = [_quote_field(s, delim) for s in normd]
    elif policy == 'simple':
        if any(delim in s for s in normd):
            warnings.add('Some output fields contain separator')
    elif policy == 'whitespace':
        return ' '.join(normd)
    elif policy == 'monocolumn':
        return normd[0] if normd else ''
    return delim.join(normd)


# results whose optimizer-estimated size clears this bar serialize on the
# executors (Arrow-batched) and land as ordered part files that the driver
# merely concatenates — the driver never materializes the rows
_DISTRIBUTED_SINK_MIN_BYTES = 64 << 20


def _write_csv_distributed(result, output_path, delim, policy, encoding,
                           warnings) -> bool:
    """Bulk sink: per-partition Arrow serialization + df.write.text of the
    ordered partitions, then a byte-level part-file merge on the driver.
    Warning counts ride back on accumulators.  Returns False when the
    result shape needs another path."""
    if getattr(result, 'trim_width_col', None) is not None or result.int_flag_cols:
        return False
    if policy not in ('quoted', 'quoted_rfc', 'simple'):
        return False
    if encoding != 'utf-8':
        return False  # the text datasource writes utf-8
    df = result.display_df(ordered=True)
    if not all(isinstance(f.dataType, _sink_scalar_types()) for f in df.schema.fields):
        return False
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 0
    if est < _DISTRIBUTED_SINK_MIN_BYTES:
        return False

    import glob
    import shutil
    import tempfile
    sctx = df.sparkSession.sparkContext
    acc_null = sctx.accumulator(0)
    acc_sep = sctx.accumulator(0)
    ftypes = [f.dataType for f in df.schema.fields]
    dlm, pol = delim, policy

    def ser(batches):
        import pandas as pd
        for pdf in batches:
            line, n_null, n_sep = _serialize_pdf(pdf, ftypes, dlm, pol)
            acc_null.add(n_null)
            acc_sep.add(n_sep)
            yield pd.DataFrame({'line': line})

    outdir = os.path.dirname(os.path.abspath(output_path)) or '.'
    tmpdir = tempfile.mkdtemp(prefix='.rbql_csv_parts_', dir=outdir)
    shutil.rmtree(tmpdir)  # the writer creates it
    try:
        df.mapInPandas(ser, 'line string').write.text(tmpdir)
        # global order = part order: the sort's range exchange numbers
        # partitions in key order and part files inherit partition ids
        parts = sorted(glob.glob(os.path.join(tmpdir, 'part-*')))
        with open(output_path, 'wb') as out:
            if result.out_names is not None:
                out.write((_format_record(result.out_names, delim, policy, warnings)
                           + '\n').encode(encoding))
            for p in parts:
                with open(p, 'rb') as src:
                    shutil.copyfileobj(src, out, 1 << 22)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    if acc_null.value:
        warnings.add('None values in output were replaced by empty strings')
    if acc_sep.value:
        warnings.add('Some output fields contain separator')
    return True


def write_csv(result, output_path: str, delim: str = ',', policy: str = 'quoted',
              encoding: str = 'utf-8') -> list[str]:
    """Stream the (ordered) result to one CSV file with the reference's
    output-normalization rules (rbql_csv.py:146-315): ragged-width trimming,
    int-preserving aggregates, None→'' with a warning, policy-aware quoting.
    One-file sink (the reference CLI shape): a result estimated at
    ``_DISTRIBUTED_SINK_MIN_BYTES`` or more is serialized on the executors,
    a smaller one by the row loop below on the driver; use df.write.csv
    for distributed many-file output."""
    from ..api import collect_result_rows
    warnings: set[str] = set()
    header = result.out_names
    if _write_csv_distributed(result, output_path, delim, policy, encoding, warnings):
        return sorted(warnings)

    rows = collect_result_rows(result)
    with open(output_path, 'w', encoding=encoding, newline='') as f:
        if header is not None:
            f.write(_format_record(header, delim, policy, warnings))
            f.write('\n')
        for vals in rows:
            if header is not None and len(vals) != len(header):
                # reference CSVWriter width guard (rbql_csv.py:209-210)
                raise RbqlIOHandlingError(
                    'Inconsistent number of columns in output header and the '
                    'current record: {} != {}'.format(len(vals), len(header)))
            f.write(_format_record(vals, delim, policy, warnings))
            f.write('\n')
    return sorted(warnings)
