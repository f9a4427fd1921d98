"""Table registries: FROM / JOIN table-id → TableHandle resolution.

Reference concept: ``RBQLTableRegistry`` implementations — list registry
(rbql_engine.py:1734-1743), filesystem CSV registry (rbql_csv.py:101-115),
sqlite registry (rbql_sqlite.py:59-65).  Spark-side, a table id resolves to a
DataFrame via an explicit mapping, a parquet/csv/jsonl path, or a Spark
catalog table.

Parquet schema cache: ``spark.read.parquet(path)`` runs a Spark job to
infer the schema from the files' footers, while a read given the schema
runs none (83–126 ms against 14 ms for a 3 KB file, local[2] on a 4-core
box).  :func:`read_parquet` infers a path's schema once and keeps
``{path: (version, StructType)}``, one entry per absolute path; later
reads pass the stored schema as long as the version is unchanged.  The version is every directory entry's
``(name, mtime_ns, size)`` (or the file's own for a file path) plus the
session's parquet inference settings (``_PARQUET_INFERENCE_CONF``).  File
listing still happens on every read and no DataFrame is reused.  A
directory with subdirectories (partition discovery) or a path whose
``stat`` fails is read without the cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .binding import TableHandle
from .errors import RbqlIOHandlingError


def parquet_null_free_columns(path: str) -> frozenset[str]:
    """Top-level column names whose parquet footer statistics PROVE zero
    nulls across every row group of every file — see
    :func:`parquet_footer_info`."""
    return parquet_footer_info(path)[0]


def parquet_footer_info(path: str) -> tuple[frozenset[str], int | None]:
    """(null-free column names, exact row count) from parquet footers.

    Driver-side footer reads only — O(row groups), no data scan; at
    100 TB this is the same metadata the planner already touches.  Any
    missing statistic, nested path, or read failure disqualifies the
    column (absence of proof, never an assumption); any read failure
    yields row count None.  The row count feeds the ORDER BY single-row
    reference-accident parity (engine._finalize_simple)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return frozenset(), None
    if os.path.isfile(path):
        files = [path]
    else:
        # spark.read.parquet(dir) reads EVERY non-hidden data file regardless
        # of extension (e.g. Hive-written '000000_0'); a proof derived from
        # only the '*.parquet' subset would let nulls in unexamined files
        # silently bypass the reference-parity guards.  Enumerate all data
        # files; any non-parquet-named one disqualifies the whole directory
        # (absence of proof, never an assumption).
        try:
            names = sorted(
                n for n in os.listdir(path)
                if not n.startswith(('.', '_'))
                and not os.path.isdir(os.path.join(path, n)))
        except OSError:
            return frozenset(), None
        if any(not n.endswith('.parquet') for n in names):
            return frozenset(), None
        files = [os.path.join(path, n) for n in names]
    if not files:
        return frozenset(), None
    proven: set[str] | None = None
    total_rows = 0
    try:
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            total_rows += md.num_rows
            ok: dict[str, bool] = {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    cc = row.column(ci)
                    name = cc.path_in_schema
                    if '.' in name:
                        continue  # nested leaf — out of scope
                    st = cc.statistics
                    good = (st is not None and st.has_null_count
                            and st.null_count == 0)
                    ok[name] = ok.get(name, True) and good
            file_proven = {n for n, v in ok.items() if v}
            proven = file_proven if proven is None else (proven & file_proven)
    except Exception:
        return frozenset(), None
    return frozenset(proven or ()), total_rows


# session settings that change the schema Spark infers from parquet footers
_PARQUET_INFERENCE_CONF = (
    'spark.sql.parquet.binaryAsString',
    'spark.sql.parquet.int96AsTimestamp',
    'spark.sql.parquet.inferTimestampNTZ.enabled',
    'spark.sql.parquet.mergeSchema',
    'spark.sql.legacy.parquet.nanosAsLong',
)

# Process-wide, because callers build a registry per query.  The key holds
# everything the inferred schema depends on, so a hit returns what a fresh
# inference would; two threads missing at once both infer the same value.
_parquet_schemas: dict[str, tuple[tuple, StructType]] = {}


def _parquet_version(spark: SparkSession, path: str) -> tuple | None:
    """The files' ``(name, mtime_ns, size)`` and the inference settings;
    None when the path cannot be versioned."""
    try:
        if os.path.isdir(path):
            files = []
            with os.scandir(path) as entries:
                for e in entries:
                    if e.is_dir():
                        return None
                    st = e.stat()
                    files.append((e.name, st.st_mtime_ns, st.st_size))
            files.sort()
        else:
            st = os.stat(path)
            files = [('', st.st_mtime_ns, st.st_size)]
    except OSError:
        return None
    conf = tuple(spark.conf.get(k, None) for k in _PARQUET_INFERENCE_CONF)
    return tuple(files), conf


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema at most once per
    file version (see the module docstring)."""
    key = os.path.abspath(path)
    # versioned BEFORE the read: a file rewritten in between leaves a
    # stale version, which only costs the next read a fresh inference
    version = _parquet_version(spark, key)
    cached = _parquet_schemas.get(key)
    if version is not None and cached is not None and cached[0] == version:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    if version is not None:
        _parquet_schemas[key] = (version, df.schema)
    return df


def parquet_handle(spark: SparkSession, path: str) -> TableHandle:
    """A parquet table with its footer facts (null-free columns, row
    count)."""
    df = read_parquet(spark, path)
    nf, n_rows = parquet_footer_info(path)
    return TableHandle(df=df, header=list(df.columns),
                       null_free=nf, row_count=n_rows)


class TableRegistry:
    def get_table(self, spark: SparkSession, table_id: str) -> TableHandle | None:
        raise NotImplementedError


class DataFrameRegistry(TableRegistry):
    """Explicit name → TableHandle mapping (the `b`/`B` join table etc.)."""

    def __init__(self, tables: dict[str, TableHandle]):
        self.tables = tables

    def get_table(self, spark, table_id):
        return self.tables.get(table_id)


class ParquetDirRegistry(TableRegistry):
    """Resolve table names against a directory of ``<name>.parquet`` files."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def get_table(self, spark, table_id):
        path = os.path.join(self.sf_dir, table_id + '.parquet')
        if not os.path.exists(path):
            return None
        return parquet_handle(spark, path)


class CatalogRegistry(TableRegistry):
    """Resolve against the Spark catalog (temp views / metastore tables)."""

    def get_table(self, spark, table_id):
        try:
            df = spark.table(table_id)
        except Exception:
            return None
        return TableHandle(df=df, header=list(df.columns))


class PathRegistry(TableRegistry):
    """Resolve filesystem paths (parquet / csv / tsv / jsonl) relative to cwd,
    the main table's directory, or extra search dirs (reference
    rbql_csv.py:101-115 FileSystemCSVRegistry)."""

    def __init__(self, main_table_dir: str | None = None, csv_options: dict | None = None,
                 extra_dirs: list[str] | None = None):
        self.main_table_dir = main_table_dir
        self.csv_options = csv_options or {}
        self.extra_dirs = extra_dirs or []

    def _resolve_path(self, table_id: str) -> str | None:
        candidates = [table_id, os.path.expanduser(table_id)]
        if self.main_table_dir:
            candidates.append(os.path.join(self.main_table_dir, table_id))
        for d in self.extra_dirs:
            candidates.append(os.path.join(d, table_id))
        for c in candidates:
            if os.path.exists(c):
                return c
        # ~/.rbql_table_names index: "<name> <path>" records (reference
        # find_table_path, rbql_csv.py:101-115)
        index_path = os.path.expanduser('~/.rbql_table_names')
        if os.path.exists(index_path):
            try:
                with open(index_path, encoding='utf-8') as f:
                    for line in f:
                        parts = line.rstrip('\n').split(' ', 1)
                        if len(parts) == 2 and parts[0] == table_id and os.path.exists(parts[1]):
                            return parts[1]
            except OSError:
                pass
        return None

    def missing_join_table_error(self, table_id: str) -> Exception:
        # CSV-registry message has no colon (rbql_csv.py:110-113)
        return RbqlIOHandlingError('Unable to find join table "{}"'.format(table_id))

    def get_table(self, spark, table_id):
        path = self._resolve_path(table_id)
        if path is None:
            return None
        lower = path.lower()
        if lower.endswith('.parquet'):
            return parquet_handle(spark, path)
        if lower.endswith(('.jsonl', '.ndjson', '.json')):
            from .sources.jsonl import read_jsonl
            return read_jsonl(spark, path)
        from .sources.csv import read_csv
        opts = dict(self.csv_options)
        if lower.endswith(('.tsv', '.tab')) and 'delim' not in opts:
            opts['delim'] = '\t'
            opts.setdefault('policy', 'simple')
        handle = read_csv(spark, path, **opts)
        if opts.get('with_headers'):
            # reference FileSystemCSVRegistry warning (rbql_csv.py:535-540)
            handle.warnings = list(handle.warnings) + [
                'The first record in JOIN file {} was also treated as header (and skipped)'
                .format(os.path.basename(path))]
        return handle


class ChainRegistry(TableRegistry):
    def __init__(self, *registries: TableRegistry):
        self.registries = [r for r in registries if r is not None]

    def get_table(self, spark, table_id):
        for r in self.registries:
            t = r.get_table(spark, table_id)
            if t is not None:
                return t
        return None

    def missing_join_table_error(self, table_id):
        for r in self.registries:
            fn = getattr(r, 'missing_join_table_error', None)
            if fn is not None:
                return fn(table_id)
        return None
