"""Working-frame model: internal column layout + variable resolution.

The reference binds query variables (``a1``, ``a.name``, ``a["x"]``, ``NR``,
``NF``, ``b...``) by generating per-record init statements
(rbql_engine.py:1048-1141,1647-1660).  Here the same variable grammar resolves
*statically* to Spark columns of a working DataFrame whose internal layout is:

  __nr   long  — 1-based input record number (assigned before any shuffle)
  __nf   int   — field count of the input record
  __a_0… / __a_fields — input-table columns (fixed-width) or one
                         array<string> column (ragged "array mode")
  __bnr / __bnf / __b_0… / __b_fields — same for the join side

Display names (the user-visible header) are kept out of the frame until the
final projection, which removes every a/b column-name-collision problem.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import RbqlParsingError

NR_COL = '__nr'
NF_COL = '__nf'
BNR_COL = '__bnr'
BNF_COL = '__bnf'
A_FIELDS_COL = '__a_fields'
B_FIELDS_COL = '__b_fields'


def internal_col(prefix: str, idx: int) -> str:
    return '__{}_{}'.format(prefix, idx)


def type_tag(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return 'int'
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return 'float'
    if isinstance(dt, T.StringType):
        return 'str'
    if isinstance(dt, T.BooleanType):
        return 'bool'
    if isinstance(dt, T.TimestampType):
        return 'ts'
    if isinstance(dt, T.DateType):
        return 'date'
    if isinstance(dt, T.ArrayType):
        return 'array:' + type_tag(dt.elementType)
    from .mixedcell import is_mixed_type
    if is_mixed_type(dt):
        # tagged-cell mixed column (mixedcell.py): the native translator
        # declines every operation on it, routing expressions to the
        # hosted evaluator where each cell carries its real runtime type
        return 'mixed'
    return 'any'


@dataclass
class TableHandle:
    """A user-facing table: DataFrame + optional header (None = positional)."""
    df: DataFrame
    header: list[str] | None = None
    # column indices whose string values are JSON documents that the Python
    # evaluator should expose as parsed objects (JSONL source parity —
    # reference rbql_json.py:137-148 stores the parsed object per record)
    json_cols: frozenset[int] = frozenset()
    # non-fatal source warnings (BOM skipped, inconsistent field counts,
    # defective quoting…) — surfaced through StageResult.warnings
    warnings: list[str] = field(default_factory=list)
    # column names PROVEN free of nulls by source-side metadata (parquet
    # footer null-count statistics) — lets the aggregate engine skip the
    # reference-parity null guards, which are vacuous on such columns
    null_free: frozenset[str] = frozenset()
    # exact source row count when KNOWN without a job (len() of an
    # in-memory table, parquet footer num_rows) — lets ORDER BY replicate
    # the reference's single-row accident (sorted() of one element does
    # no comparison, so a None key succeeds) without adding a count job
    row_count: int | None = None
    # True when the frame's partition-major row order EQUALS ascending
    # ORDER_SRC order (range-partitioned + in-partition sorted source) —
    # lets the engine treat the renamed NR as monotone and skip the
    # output-restoring sort on narrow-only select paths
    order_src_monotone: bool = False

    @property
    def has_header(self) -> bool:
        return self.header is not None

    def display_names(self) -> list[str]:
        if self.header is not None:
            return list(self.header)
        return list(self.df.columns)


@dataclass
class SideInfo:
    """One side (a or b) of the working frame."""
    prefix: str                       # 'a' | 'b'
    header: list[str] | None          # user-visible names; None = headerless
    mode: str = 'fixed'               # 'fixed' | 'array'
    width: int | None = None          # fixed mode: column count
    types: list[T.DataType] = field(default_factory=list)  # fixed mode types
    json_cols: frozenset[int] = frozenset()  # see TableHandle.json_cols
    ragged: bool = False                     # per-row NF differs (CSV/2D-array)
    null_free: frozenset[int] = frozenset()  # indices proven null-free (see TableHandle)
    row_count: int | None = None             # see TableHandle.row_count
    order_src_monotone: bool = False         # see TableHandle.order_src_monotone

    def cols(self) -> list[str]:
        if self.mode == 'array':
            return [A_FIELDS_COL if self.prefix == 'a' else B_FIELDS_COL]
        return [internal_col(self.prefix, i) for i in range(self.width)]

    def name_to_index(self) -> dict[str, int]:
        if self.header is None:
            return {}
        return {name: i for i, name in enumerate(self.header)}


@dataclass
class WorkFrame:
    df: DataFrame
    a: SideInfo
    b: SideInfo | None = None

    def with_df(self, df: DataFrame) -> 'WorkFrame':
        return WorkFrame(df=df, a=self.a, b=self.b)


NF_SRC_COL = '__nf_src'        # optional per-row field count provided by a source
ORDER_SRC_COL = '__src_order'  # optional source-order key captured BEFORE any
                               # repartition (parallel CSV parsing shuffles
                               # lines; input order must survive it)


def bind_side(handle: TableHandle, prefix: str) -> tuple[DataFrame, SideInfo]:
    """Rename a table's user columns to side ``prefix``'s internal layout
    (one positional ``toDF``), attach its NF column and describe it.

    A source's order key (ORDER_SRC_COL) keeps its name and is no field:
    attach_nr consumes it as the side's record order.  NR is attached
    separately (the engine decides *when*: attaching the nondeterministic
    order surrogate before a filter would block predicate pushdown to the
    scan, so the engine filters first whenever the query doesn't
    reference NR).
    """
    nf_col = NF_COL if prefix == 'a' else BNF_COL
    names, types, out_names = [], [], []
    nf_type = None
    for f in handle.df.schema.fields:
        if f.name == NF_SRC_COL:
            out_names.append(nf_col)
            nf_type = f.dataType
        elif f.name == ORDER_SRC_COL:
            out_names.append(ORDER_SRC_COL)
        else:
            out_names.append(internal_col(prefix, len(names)))
            names.append(f.name)
            types.append(f.dataType)
    df = handle.df.toDF(*out_names)
    if nf_type is None:
        df = df.withColumn(nf_col, F.lit(len(names)).cast('int'))
    elif not isinstance(nf_type, T.IntegerType):
        df = df.withColumn(nf_col, F.col(nf_col).cast('int'))
    side = SideInfo(prefix=prefix,
                    header=list(handle.header) if handle.header is not None else None,
                    width=len(names), types=types, json_cols=handle.json_cols,
                    ragged=nf_type is not None,
                    null_free=frozenset(i for i, n in enumerate(names)
                                        if n in handle.null_free),
                    row_count=handle.row_count,
                    order_src_monotone=handle.order_src_monotone)
    return df, side


@dataclass
class VarRef:
    """A resolved query variable."""
    kind: str            # 'field' | 'nr' | 'nf' | 'bnr' | 'bnf' | 'version'
    side: str | None     # 'a' | 'b'
    index: int | None    # 0-based field index (field kind)
    token: str           # original variable text


class Binding:
    """Resolves variable tokens/AST nodes against a WorkFrame."""

    def __init__(self, wf: WorkFrame):
        self.wf = wf
        # set by the engine's UPDATE path once the NU running-count
        # column is materialized; None = NU is the constant 0
        self.nu_col: str | None = None
        # whether NR_COL carries exact 1-based record numbers (engine sets
        # it per stage); False = the order surrogate, where error messages
        # use the partition-ordinal approximation
        self.nr_dense: bool = False

    def _side(self, prefix: str) -> SideInfo:
        if prefix == 'a':
            return self.wf.a
        if self.wf.b is None:
            raise RbqlParsingError(
                'Variables with "b" prefix are only valid in queries with a JOIN'
            )
        return self.wf.b

    def resolve_index(self, prefix: str, one_based: int, token: str) -> VarRef:
        return VarRef(kind='field', side=prefix, index=one_based - 1, token=token)

    def resolve_name(self, prefix: str, name: str, token: str, attr_style: bool) -> VarRef:
        side = self._side(prefix)
        if side.header is None:
            # reference behavior: attribute/dict vars are simply not bound
            # for headerless tables → runtime NameError-equivalent via the
            # Python evaluator, not a parse error (rbql_engine.py:1099-1115
            # runs only when a header exists)
            from .translator import TranslationFallback
            raise TranslationFallback('named column access on headerless table')
        idx = side.name_to_index().get(name)
        if idx is None:
            if attr_style:
                raise RbqlParsingError(
                    'Unable to find column "{}" in {} header'.format(
                        name, 'input' if prefix == 'a' else 'join')
                )
            from .errors import RbqlRuntimeError
            raise RbqlRuntimeError('No "{}" field at record 1'.format(name))
        return VarRef(kind='field', side=prefix, index=idx, token=token)

    def resolve_builtin(self, name: str) -> VarRef | None:
        if name in ('NR', 'aNR'):
            return VarRef(kind='nr', side='a', index=None, token=name)
        if name == 'NF':
            return VarRef(kind='nf', side='a', index=None, token=name)
        if name == 'bNR':
            self._side('b')
            return VarRef(kind='bnr', side='b', index=None, token=name)
        if name == 'bNF':
            self._side('b')
            return VarRef(kind='bnf', side='b', index=None, token=name)
        if name == 'RBQL_VERSION':
            return VarRef(kind='version', side=None, index=None, token=name)
        if name == 'NU':
            # number-of-updates counter: 0 outside UPDATE loops
            # (rbql_engine.py:744); inside UPDATE the engine materializes
            # the running count and points nu_col at it
            return VarRef(kind='nu', side=None, index=None, token=name)
        return None

    # ---- Spark-side resolution -------------------------------------------

    def spark_column(self, ref: VarRef) -> tuple[Column, str]:
        """Return (Column, type_tag) for a resolved variable."""
        if ref.kind == 'nr':
            return F.col(NR_COL), 'int'
        if ref.kind == 'nf':
            return F.col(NF_COL), 'int'
        if ref.kind == 'bnr':
            return F.col(BNR_COL), 'int'
        if ref.kind == 'bnf':
            return F.col(BNF_COL), 'int'
        if ref.kind == 'version':
            from . import __version__
            return F.lit(__version__), 'str'
        if ref.kind == 'nu':
            if self.nu_col is not None:
                return F.col(self.nu_col), 'int'
            return F.lit(0), 'int'
        side = self._side(ref.side)
        if ref.index is not None and ref.index in side.json_cols:
            # JSON-object columns live in Python space (parsed dicts) — the
            # native translator must not treat them as plain strings
            from .translator import TranslationFallback
            raise TranslationFallback('json object column')
        if side.mode == 'array':
            fields = A_FIELDS_COL if ref.side == 'a' else B_FIELDS_COL
            # element_at is 1-based; OOB → null == reference safe_get None
            return F.try_element_at(F.col(fields), F.lit(ref.index + 1)), 'str'
        if ref.index >= side.width:
            # fixed-width table: index past the end is always None
            # (reference safe_get, rbql_engine.py:249-250)
            return F.lit(None), 'null'
        col = F.col(internal_col(ref.side, ref.index))
        return col, type_tag(side.types[ref.index]) if side.types else 'any'


# ---- variable discovery over raw expression text (for pyeval) -------------

_BASIC_VAR_RGX = {p: re.compile(r'(?:^|[^_a-zA-Z0-9]){}([1-9][0-9]*)(?:$|(?=[^_a-zA-Z0-9]))'.format(p)) for p in 'ab'}
_ARRAY_VAR_RGX = {p: re.compile(r'(?:^|[^_a-zA-Z0-9]){}\[([1-9][0-9]*)\]'.format(p)) for p in 'ab'}
_ATTR_VAR_RGX = {p: re.compile(r'(?:^|[^_a-zA-Z0-9.]){}\.([_a-zA-Z][_a-zA-Z0-9]*)'.format(p)) for p in 'ab'}


def discover_positional_vars(query_text: str, prefix: str) -> set[int]:
    """1-based indices referenced as ``a1``/``a[1]`` style (reference
    rbql_engine.py:1048-1063)."""
    found: set[int] = set()
    for m in _BASIC_VAR_RGX[prefix].finditer(query_text):
        found.add(int(m.group(1)))
    for m in _ARRAY_VAR_RGX[prefix].finditer(query_text):
        found.add(int(m.group(1)))
    return found


def discover_attr_vars(query_text: str, prefix: str) -> set[str]:
    return {m.group(1) for m in _ATTR_VAR_RGX[prefix].finditer(query_text)}
